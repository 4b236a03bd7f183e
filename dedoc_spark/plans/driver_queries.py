"""Driver-contract queries with exactly-mirrored DuckDB oracle SQL.

Each entry in QUERIES is a Spark DataFrame builder (spark, sf_dir) →
DataFrame; ORACLES holds the equivalent ANSI SQL string DuckDB runs on
views of the same parquet tables. Column names and value formulas are
mirrored expression-for-expression so the driver's order-insensitive
value-hash matches.

The queries map SURVEY.md §2 operators onto the driver-provided tables:
line explode + line_id (§2.6), pattern-chain classification (§2.10),
digit-mask boilerplate voting (§2.5), annotation-style spacing/indent
windows (§2.6 txt reader), dedup/minhash/jaccard, lang/quality/token
stats, embedding ANN, and the *full extraction pipeline* run on HTML
synthesized deterministically from the documents table — whose extracted
text is predictable in closed form, giving a true byte-identity oracle.

Float discipline: no cross-row float sums (order-dependent) — money-ish
sums go through DECIMAL; per-row arithmetic is identical IEEE ops in both
engines; everything rounded to 6 before output.
"""

from __future__ import annotations

import functools
import json
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dedoc_spark.core.structure import (
    BRACKET_RE,
    BULLET_RE,
    DOTTED_RE,
    LETTER_RE,
    ROMAN_RE,
)
from dedoc_spark.functions import digit_mask
from dedoc_spark.operators.pipeline import bootstrapped

# ---------------------------------------------------------------------------
# shared inputs


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# word tokens exactly as the DuckDB mirror: lower, split on non-alnum runs,
# drop empties
def _tokens(col):
    return F.filter(F.split(F.lower(col), r"[^0-9a-zа-яё]+"), lambda t: F.length(t) > 0)


_SQL_TOKENS = "list_filter(string_split_regex(lower({c}), '[^0-9a-zа-яё]+'), t -> len(t) > 0)"
_SQL_SHINGLES3 = (
    "list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
    "ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END)"
)


def _sql_minhash_hex(seed: int) -> str:
    return f"list_min(list_transform(sh, s -> substr(md5(s || '#{seed}'), 1, 8)))"


# synthesized per-doc marker prefix exercising the structure pattern chain
def _prefix_col():
    m = F.col("doc_id") % 6
    return (
        F.when(m == 0, F.lit("1.2. "))
        .when(m == 1, F.lit("v. "))
        .when(m == 2, F.lit("3) "))
        .when(m == 3, F.lit("а) "))
        .when(m == 4, F.lit("- "))
        .otherwise(F.lit(""))
    )


_SQL_PREFIX = (
    "CASE doc_id % 6 WHEN 0 THEN '1.2. ' WHEN 1 THEN 'v. ' WHEN 2 THEN '3) ' "
    "WHEN 3 THEN 'а) ' WHEN 4 THEN '- ' ELSE '' END"
)

# ---------------------------------------------------------------------------
# q01 word explode with position (positional explode / row-number semantics)


def q01_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    exploded = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    return exploded.select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


Q01_SQL = """
SELECT doc_id, u.s.i - 1 AS pos, u.s.tok AS token FROM (
  SELECT doc_id, unnest(list_transform(toks, (t, i) -> {'i': i, 'tok': t})) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
) u
"""

# ---------------------------------------------------------------------------
# q02 structure pattern chain (dotted/roman/bracket/letter/bullet regexps)


def q02_line_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    line = F.concat(_prefix_col(), F.col("text"))
    t = F.lower(F.trim(line))
    line_type = (
        F.when(t.rlike(DOTTED_RE.pattern), F.lit("dotted_list"))
        .when(t.rlike(ROMAN_RE.pattern), F.lit("roman_list"))
        .when(t.rlike(BRACKET_RE.pattern), F.lit("bracket_list"))
        .when(t.rlike(LETTER_RE.pattern), F.lit("letter_list"))
        .when(t.rlike(BULLET_RE.pattern), F.lit("bullet_list"))
        .otherwise(F.lit("raw_text"))
    )
    dotted_depth = F.when(
        t.rlike(DOTTED_RE.pattern),
        F.size(
            F.filter(
                F.split(F.trim(F.regexp_extract(t, DOTTED_RE.pattern, 0)), r"\."),
                lambda x: F.length(x) > 0,
            )
        ),
    ).otherwise(F.lit(-1))
    return docs.select(
        "doc_id", line_type.alias("line_type"), dotted_depth.cast("int").alias("dotted_depth")
    )


_P = {
    "dotted": DOTTED_RE.pattern,
    "roman": ROMAN_RE.pattern,
    "bracket": BRACKET_RE.pattern,
    "letter": LETTER_RE.pattern,
    "bullet": BULLET_RE.pattern.replace("'", "''"),
}

Q02_SQL = f"""
WITH lined AS (
  SELECT doc_id, lower(trim(({_SQL_PREFIX}) || text)) AS t FROM documents
)
SELECT doc_id,
  CASE
    WHEN regexp_matches(t, '{_P['dotted']}') THEN 'dotted_list'
    WHEN regexp_matches(t, '{_P['roman']}') THEN 'roman_list'
    WHEN regexp_matches(t, '{_P['bracket']}') THEN 'bracket_list'
    WHEN regexp_matches(t, '{_P['letter']}') THEN 'letter_list'
    WHEN regexp_matches(t, '{_P['bullet']}') THEN 'bullet_list'
    ELSE 'raw_text'
  END AS line_type,
  CAST(CASE WHEN regexp_matches(t, '{_P['dotted']}')
    THEN len(list_filter(string_split(trim(regexp_extract(t, '{_P['dotted']}', 0)), '.'), x -> len(x) > 0))
    ELSE -1 END AS INTEGER) AS dotted_depth
FROM lined
"""

# ---------------------------------------------------------------------------
# q03 digit-mask patterns (header/footer mask core, §2.9)


def q03_digit_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    masked = digit_mask(
        F.concat(F.lit("page "), F.col("doc_id").cast("string"), F.lit(" of "), F.col("n_chars").cast("string"), F.lit(" "), F.substring("text", 1, 20))
    )
    return docs.groupBy(masked.alias("pattern")).agg(F.count("*").cast("long").alias("n"))


Q03_SQL = r"""
SELECT regexp_replace(lower(trim('page ' || doc_id || ' of ' || n_chars || ' ' || substr(text, 1, 20))), '\d+', '@', 'g') AS pattern,
       count(*) AS n
FROM documents GROUP BY 1
"""

# ---------------------------------------------------------------------------
# q04 boilerplate voting (cross-page header/footer frequency voting → site scale)


def _synth_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("source").alias("site"),
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("site "), F.col("source"), F.lit(" menu home")),
                F.substring("text", 1, 40),
                F.concat(F.lit("copyright "), F.col("doc_id").cast("string"), F.lit(" "), F.col("source")),
            )
        ).alias("line"),
    )


_SQL_SYNTH_LINES = """
  SELECT source AS site, doc_id, unnest([
    'site ' || source || ' menu home',
    substr(text, 1, 40),
    'copyright ' || doc_id || ' ' || source
  ]) AS line FROM documents
"""


def q04_boilerplate_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _synth_lines(spark, sf_dir)
    edged = lines.select("site", "doc_id", digit_mask(F.col("line")).alias("pattern")).distinct()
    site_docs = edged.select("site", "doc_id").distinct().groupBy("site").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return (
        edged.groupBy("site", "pattern")
        .agg(F.count("*").cast("long").alias("n_with_pattern"))
        .join(site_docs, "site")
        .withColumn("frac", F.round(F.col("n_with_pattern") / F.col("n_docs"), 6))
        .filter((F.col("frac") >= 0.4) & (F.col("n_docs") >= 2))
        .select("site", "pattern", "n_with_pattern", "n_docs", "frac")
    )


Q04_SQL = rf"""
WITH lines AS ({_SQL_SYNTH_LINES}),
edged AS (
  SELECT DISTINCT site, doc_id, regexp_replace(lower(trim(line)), '\d+', '@', 'g') AS pattern FROM lines
),
site_docs AS (
  SELECT site, count(*) AS n_docs FROM (SELECT DISTINCT site, doc_id FROM edged) GROUP BY site
)
SELECT e.site, e.pattern, count(*) AS n_with_pattern, any_value(s.n_docs) AS n_docs,
       round(count(*) / any_value(s.n_docs), 6) AS frac
FROM edged e JOIN site_docs s ON e.site = s.site
GROUP BY e.site, e.pattern
HAVING round(count(*) / any_value(s.n_docs), 6) >= 0.4 AND any_value(s.n_docs) >= 2
"""

# ---------------------------------------------------------------------------
# q05 boilerplate removal (anti-join back, kept-line counts per site)


def q05_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _synth_lines(spark, sf_dir)
    votes = q04_boilerplate_votes(spark, sf_dir).select(
        F.col("site").alias("v_site"), F.col("pattern").alias("v_pattern")
    )
    kept = lines.join(
        F.broadcast(votes),
        on=[
            lines["site"] == votes["v_site"],
            digit_mask(lines["line"]) == votes["v_pattern"],
        ],
        how="left_anti",
    )
    return kept.groupBy("site").agg(F.count("*").cast("long").alias("kept_lines"))


Q05_SQL = rf"""
WITH lines AS ({_SQL_SYNTH_LINES}),
edged AS (
  SELECT DISTINCT site, doc_id, regexp_replace(lower(trim(line)), '\d+', '@', 'g') AS pattern FROM lines
),
site_docs AS (
  SELECT site, count(*) AS n_docs FROM (SELECT DISTINCT site, doc_id FROM edged) GROUP BY site
),
votes AS (
  SELECT e.site, e.pattern
  FROM edged e JOIN site_docs s ON e.site = s.site
  GROUP BY e.site, e.pattern
  HAVING round(count(*) / any_value(s.n_docs), 6) >= 0.4 AND any_value(s.n_docs) >= 2
)
SELECT l.site, count(*) AS kept_lines
FROM lines l ANTI JOIN votes v
  ON l.site = v.site AND regexp_replace(lower(trim(l.line)), '\d+', '@', 'g') = v.pattern
GROUP BY l.site
"""

# ---------------------------------------------------------------------------
# q06 exact dedup groups (hash-groupBy on 3-token prefix fingerprint)


def q06_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)))
    return (
        docs.groupBy(fp.alias("fp"))
        .agg(F.min("doc_id").alias("rep_id"), F.count("*").cast("long").alias("dup_count"))
    )


Q06_SQL = """
SELECT md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS fp,
       min(doc_id) AS rep_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""

# ---------------------------------------------------------------------------
# q07 minhash signatures (4 hex minima over 3-gram shingles)


def q07_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles as rows (posexplode + window lead — codegen; the
    higher-order-function formulation measured O(tokens²) interpreted) →
    groupBy(doc) with 4 partial-aggregated minima. min is idempotent, so
    no distinct pass is needed.

    The minima aggregate over the NUMERIC value of the 8-hex-char hash,
    not the hex string: fixed-width lowercase hex is order-isomorphic to
    its value, so the result is identical after re-formatting — but a
    long agg buffer keeps the plan on HashAggregate where a string min
    buffer forced SortAggregate (two full sorts of the shingle stream,
    audited in plans/r07/q07_minhash_before.txt)."""
    from dedoc_spark.functions import shingle_rows

    sh = shingle_rows(_docs(spark, sf_dir), "text", "doc_id", 3)
    agg = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(F.md5(F.concat(F.col("shingle"), F.lit(f"#{j}"))), 1, 8),
                    16,
                    10,
                ).cast("bigint")
            ).alias(f"__m{j}")
            for j in range(4)
        ]
    )
    return agg.select(
        "doc_id",
        *[
            F.lower(F.lpad(F.conv(F.col(f"__m{j}"), 10, 16), 8, "0")).alias(f"h{j}")
            for j in range(4)
        ],
    )


Q07_SQL = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS sh FROM tok)
SELECT doc_id,
  {_sql_minhash_hex(0)} AS h0,
  {_sql_minhash_hex(1)} AS h1,
  {_sql_minhash_hex(2)} AS h2,
  {_sql_minhash_hex(3)} AS h3
FROM sh
"""

# ---------------------------------------------------------------------------
# q08 minhash-LSH candidate pairs (band join: 2 bands × 2 hashes)


def q08_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize signatures once: a self-join would otherwise recompute the
    # full shingle+md5 subtree on both sides. persist(DISK_ONLY) (not
    # localCheckpoint) — survives executor loss on a real cluster because the
    # lineage stays attached; the plan shows InMemoryTableScan reuse.
    from pyspark.storagelevel import StorageLevel

    sig = q07_minhash(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.concat_ws(",", "h0", "h1"),
                F.concat_ws(",", "h2", "h3"),
            )
        ).alias("band_idx", "band_key"),
    )
    a = banded.select("band_idx", "band_key", F.col("doc_id").alias("a"))
    b = banded.select("band_idx", "band_key", F.col("doc_id").alias("b"))
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


Q08_SQL = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS sh FROM tok),
sig AS (
  SELECT doc_id, {_sql_minhash_hex(0)} AS h0, {_sql_minhash_hex(1)} AS h1,
         {_sql_minhash_hex(2)} AS h2, {_sql_minhash_hex(3)} AS h3 FROM sh
),
banded AS (
  SELECT doc_id, 0 AS band_idx, h0 || ',' || h1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_idx, h2 || ',' || h3 AS band_key FROM sig
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM banded x JOIN banded y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
WHERE x.doc_id < y.doc_id
"""

# ---------------------------------------------------------------------------
# q09 n-gram Jaccard pairs within source blocks


def q09_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    # bounded demo: blocks over max_block are dropped up front, so no
    # unbounded all-pairs plan is reachable from the gate
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", "source", 3, threshold=0.05, max_block=1000
    )


Q09_SQL = f"""
WITH tok AS (SELECT doc_id, source, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sh AS (SELECT doc_id, source, {_SQL_SHINGLES3} AS sh FROM tok),
ok AS (SELECT source FROM documents GROUP BY source HAVING count(*) <= 1000)
SELECT x.doc_id AS a, y.doc_id AS b,
       round(len(list_intersect(x.sh, y.sh)) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
FROM sh x JOIN sh y ON x.source = y.source AND x.doc_id < y.doc_id
JOIN ok ON ok.source = x.source
WHERE round(len(list_intersect(x.sh, y.sh)) / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.05
"""

# ---------------------------------------------------------------------------
# q10 language id + quality + token counts (per-row arithmetic only)


def q10_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    c = F.col("text")
    low = F.lower(c)
    cyr = F.length(c) - F.length(F.regexp_replace(low, r"[а-яё]", ""))
    lat = F.length(c) - F.length(F.regexp_replace(low, r"[a-z]", ""))
    lang_guess = (
        F.when((cyr == 0) & (lat == 0), F.lit("unknown"))
        .when(cyr >= lat, F.lit("ru"))
        .otherwise(F.lit("en"))
    )
    toks = _tokens(c)
    n_tokens = F.size(toks).cast("long")
    alpha = F.round(
        (F.length(c) - F.length(F.regexp_replace(low, r"[a-zа-яё]", ""))) / F.length(c), 6
    )
    punct = F.round(
        (F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?()\[\]\"']", ""))) / F.length(c), 6
    )
    wl = F.round(
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)) / F.size(toks),
        6,
    )
    quality = F.round(
        alpha * 0.4
        + F.when((wl >= 3) & (wl <= 10), F.lit(0.4)).otherwise(F.lit(0.0))
        + (F.lit(0.2) - F.least(punct, F.lit(0.2))),
        6,
    )
    fingerprint = F.md5(F.trim(F.regexp_replace(low, r"\s+", " ")))
    return docs.select(
        "doc_id",
        lang_guess.alias("lang_guess"),
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
        fingerprint.alias("fingerprint"),
    )


Q10_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, lower(text) AS low,
         {_SQL_TOKENS.format(c='text')} AS toks,
         length(text) - length(regexp_replace(lower(text), '[а-яё]', '', 'g')) AS cyr,
         length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS lat
  FROM documents
)
SELECT doc_id,
  CASE WHEN cyr = 0 AND lat = 0 THEN 'unknown' WHEN cyr >= lat THEN 'ru' ELSE 'en' END AS lang_guess,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  round(
    round((length(text) - length(regexp_replace(low, '[a-zа-яё]', '', 'g'))) / length(text), 6) * 0.4
    + CASE WHEN round(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) / len(toks), 6) BETWEEN 3 AND 10 THEN 0.4 ELSE 0.0 END
    + (0.2 - least(round((length(text) - length(regexp_replace(text, '[.,;:!?()\[\]"'']', '', 'g'))) / length(text), 6), 0.2)),
  6) AS quality,
  md5(trim(regexp_replace(low, '\s+', ' ', 'g'))) AS fingerprint
FROM t
"""

# ---------------------------------------------------------------------------
# q11 per-source rollups (benchmark rollup analogue, §2.5)


def q11_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(_tokens(F.col("text")))).cast("long").alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


Q11_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(len({_SQL_TOKENS.format(c='text')})) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY source
"""

# ---------------------------------------------------------------------------
# q12 embedding ANN: brute-force cosine top-10 for query vectors (vec_id < 5)


def q12_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase multi-query top-k (operators/similarity.cosine_topk_multi):
    the query vectors ship with the plan as literals; phase 1 is a local
    per-scan-partition top-k (no corpus shuffle into |queries| partitions),
    phase 2 ranks only the tiny survivor set."""
    from dedoc_spark.operators.similarity import cosine_topk_multi

    emb = _emb(spark, sf_dir)
    qrows = (
        emb.filter(F.col("vec_id") < 5)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    queries = sorted((int(r.vec_id), list(r.v)) for r in qrows)
    return cosine_topk_multi(emb, queries, k=10)


Q12_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(e.v)), i -> e.v[i] * q.qv[i]))
           / (sqrt(list_sum(list_transform(e.v, x -> x * x))) * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
  FROM e CROSS JOIN q
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
"""

# ---------------------------------------------------------------------------
# q13 embedding near-dup pairs within label blocks


def q13_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import embedding_near_dup

    emb = _emb(spark, sf_dir)
    # bounded demo: label blocks over max_block are dropped up front
    out = embedding_near_dup(
        emb, "embedding", "vec_id", "label", threshold=0.25, max_block=1000
    )
    return out.select("a", "b", F.round(F.col("cos"), 4).alias("cos"))


Q13_SQL = """
WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ok AS (SELECT label FROM embeddings GROUP BY label HAVING count(*) <= 1000),
scored AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_sum(list_transform(generate_series(1, len(x.v)), i -> x.v[i] * y.v[i]))
           / (sqrt(list_sum(list_transform(x.v, t -> t * t))) * sqrt(list_sum(list_transform(y.v, t -> t * t)))), 6) AS cos6
  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
  JOIN ok ON ok.label = x.label
)
SELECT a, b, round(cos6, 4) AS cos FROM scored WHERE cos6 >= 0.25
"""

# ---------------------------------------------------------------------------
# q14 events rollup (decimal-safe float sums)


def q14_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec).cast("decimal(28,6)").cast("double").alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


Q14_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# q15 spacing/indent annotations over the source-as-document line corpus
# (txt reader spacing/indent semantics as window functions, §2.6)


def _line_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source = document, member doc texts = lines (ordered by doc_id);
    empties and indents synthesized deterministically from doc_id."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    line = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 0, F.concat(F.lit("\t"), F.col("text")))
        .otherwise(F.concat(F.repeat(F.lit(" "), (F.col("doc_id") % 4).cast("int")), F.col("text")))
    )
    return docs.select(
        "source",
        (F.row_number().over(w) - 1).cast("long").alias("line_id"),
        line.alias("line"),
    )


_SQL_LINE_CORPUS = """
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS line_id,
         CASE WHEN doc_id % 5 = 0 THEN ''
              WHEN doc_id % 7 = 0 THEN chr(9) || text
              ELSE repeat(' ', CAST(doc_id % 4 AS INTEGER)) || text END AS line
  FROM documents
"""


def q15_spacing_indent(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _line_corpus(spark, sf_dir)
    is_empty = F.trim(F.col("line")) == ""
    w = (
        Window.partitionBy("source")
        .orderBy("line_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_nonempty = F.max(F.when(~is_empty, F.col("line_id"))).over(w)
    n_empty = F.col("line_id") - F.coalesce(prev_nonempty, F.lit(-1)) - 1
    spacing = F.when(n_empty == 0, F.lit(50)).otherwise((n_empty * 100).cast("int")).cast("long")
    ws = F.regexp_extract("line", r"^[ \t]*", 0)
    n_tabs = F.length(ws) - F.length(F.regexp_replace(ws, r"\t", ""))
    indent = (F.lit(211) * (F.lit(3) * n_tabs + (F.length(ws) - n_tabs))).cast("long")
    return lines.select("source", "line_id", spacing.alias("spacing"), indent.alias("indent"))


Q15_SQL = rf"""
WITH lines AS ({_SQL_LINE_CORPUS}),
st AS (
  SELECT source, line_id, line, trim(line) = '' AS is_empty,
         max(CASE WHEN trim(line) <> '' THEN line_id END)
           OVER (PARTITION BY source ORDER BY line_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nonempty
  FROM lines
),
sp AS (
  SELECT source, line_id, line,
         line_id - coalesce(prev_nonempty, -1) - 1 AS n_empty,
         regexp_extract(line, '^[ \t]*', 0) AS ws
  FROM st
)
SELECT source, line_id,
  CAST(CASE WHEN n_empty = 0 THEN 50 ELSE n_empty * 100 END AS BIGINT) AS spacing,
  CAST(211 * (3 * (length(ws) - length(replace(ws, chr(9), ''))) + (length(ws) - (length(ws) - length(replace(ws, chr(9), ''))))) AS BIGINT) AS indent
FROM sp
"""

# ---------------------------------------------------------------------------
# q16 paragraph flags: lag(indent-width) jump ≥ 2 (txt reader, §2.6)


def q16_paragraph_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _line_corpus(spark, sf_dir)
    is_empty = F.trim(F.col("line")) == ""
    ws = F.regexp_extract(F.regexp_replace("line", r"\t", "    "), r"^ *", 0)
    width = F.when(is_empty, F.lit(0)).otherwise(F.length(ws))
    w = Window.partitionBy("source").orderBy("line_id")
    prev_w = F.lag(width, 1, 0).over(w)
    is_paragraph = (~is_empty) & ((width - prev_w) >= 2)
    return lines.select(
        "source", "line_id", is_paragraph.alias("is_paragraph")
    )


Q16_SQL = rf"""
WITH lines AS ({_SQL_LINE_CORPUS}),
ww AS (
  SELECT source, line_id, trim(line) = '' AS is_empty,
         CASE WHEN trim(line) = '' THEN 0
              ELSE length(regexp_extract(regexp_replace(line, '\t', '    ', 'g'), '^ *', 0)) END AS w
  FROM lines
)
SELECT source, line_id,
       (NOT is_empty) AND (w - lag(w, 1, 0) OVER (PARTITION BY source ORDER BY line_id) >= 2) AS is_paragraph
FROM ww
"""

# ---------------------------------------------------------------------------
# q17 FULL HTML EXTRACTION with closed-form oracle: documents wrapped in a
# deterministic template; extracted text is predictable byte-for-byte.


def _synth_html(docs: DataFrame) -> DataFrame:
    html = F.concat(
        F.lit("<html><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
    )


def q17_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.pipeline import extract_stage

    # the driver table is ONE parquet file -> 1-2 scan partitions; the
    # per-row extraction must not run on two cores of 32 (_parallel
    # docstring) — one narrow shuffle of the synthesized rows buys full
    # task parallelism exactly like the other synthesize+extract gates
    src = _parallel(_synth_html(_docs(spark, sf_dir)))
    out = extract_stage(src)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_tables").cast("long").alias("n_tables"),
        "text_extracted",
    )


# extraction semantics in closed form for this template:
#   lines: "Doc {id}\n" (h1; trailing \n added because next tag is <p>),
#          "{text}\n" (p rule adds trailing \n)
#   tree: root "" → header → raw_text; json2txt appends "\n" per node:
#   "\n" + "Doc {id}\n" + "\n" + "{text}\n" + "\n"
Q17_SQL = """
SELECT doc_id, CAST(2 AS BIGINT) AS n_lines, CAST(0 AS BIGINT) AS n_tables,
       chr(10) || 'Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10) AS text_extracted
FROM documents
"""

# ---------------------------------------------------------------------------
# q18 FULL TXT EXTRACTION with closed-form oracle (single-line documents)


def q18_txt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.pipeline import extract_stage

    docs = _docs(spark, sf_dir)
    src = _parallel(docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
    ))
    out = extract_stage(src)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "text_extracted",
    )


Q18_SQL = """
SELECT doc_id, CAST(1 AS BIGINT) AS n_lines, chr(10) || text || chr(10) AS text_extracted
FROM documents
"""

# ---------------------------------------------------------------------------
# q19 HTML TABLE EXTRACTION with closed-form oracle: rowspan expansion


def q19_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.pipeline import extract_stage

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><body><table border="1"><tr><td>A</td><td rowspan="2">'),
        F.col("source"),
        F.lit("</td></tr><tr><td>"),
        F.col("lang"),
        F.lit("</td></tr></table></body></html>"),
    )
    src = _parallel(docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
    ))
    out = extract_stage(src)
    tables = F.from_json(
        "tables_json",
        "array<struct<cells:array<array<struct<lines:array<struct<line:string>>,colspan:int,rowspan:int,invisible:boolean>>>>>",
    )
    t0 = tables[0]
    cell_text = lambda r, c: F.concat_ws("\n", F.transform(t0["cells"][r][c]["lines"], lambda l: l["line"]))  # noqa: E731
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("n_tables").cast("long").alias("n_tables"),
        F.size(t0["cells"]).cast("long").alias("n_rows"),
        F.size(t0["cells"][0]).cast("long").alias("n_cols"),
        cell_text(0, 0).alias("c00"),
        cell_text(0, 1).alias("c01"),
        cell_text(1, 0).alias("c10"),
        cell_text(1, 1).alias("c11"),
        t0["cells"][1][1]["invisible"].alias("clone_invisible"),
    )


# rowspan expansion: the clone of (0,1) is inserted at row-1 position 1
# (after the DOM cell), so row 1 reads [lang, source-clone(invisible)]
Q19_SQL = """
SELECT doc_id, CAST(1 AS BIGINT) AS n_tables, CAST(2 AS BIGINT) AS n_rows, CAST(2 AS BIGINT) AS n_cols,
       'A' AS c00, source AS c01, lang AS c10, source AS c11,
       TRUE AS clone_invisible
FROM documents
"""

# ---------------------------------------------------------------------------
# q20 simhash — mirrored bit-for-bit in DuckDB: unnest tokens ×
# generate_series(0,63), sign-vote per bit position, recombine with
# BIGINT shifts (bit 63 is the two's-complement sign bit).


def q20_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import simhash64

    return simhash64(_docs(spark, sf_dir)).select("doc_id", "simhash")


Q20_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^0-9a-zа-яё]+'), t -> len(t) > 0)) AS tok
  FROM documents
),
h AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(tok || '#1001'), 1, 8)) AS BIGINT) AS h_lo,
    CAST(('0x' || substr(md5(tok || '#2002'), 1, 8)) AS BIGINT) AS h_hi
  FROM toks
),
bits AS (
  SELECT doc_id, b.b AS bit,
    CASE WHEN ((CASE WHEN b.b < 32 THEN h_lo >> b.b ELSE h_hi >> (b.b - 32) END) & 1) = 1 THEN 1 ELSE -1 END AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
),
votes AS (SELECT doc_id, bit, sum(vote) AS s FROM bits GROUP BY doc_id, bit)
SELECT doc_id,
  CAST(sum(CASE WHEN s > 0 THEN CASE WHEN bit = 63 THEN CAST(-9223372036854775808 AS HUGEINT) ELSE CAST(CAST(1 AS BIGINT) << bit AS HUGEINT) END ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# per-document gates: one runner (_per_doc) calls each gate's row function,
# which synthesizes a payload from one documents row and extracts it; the
# row helpers below are shared by gates with the same output shape.

_TEXT_SCHEMA = "doc_id long, n_lines long, text_extracted string"
_GRID_SCHEMA = "doc_id long, n_tables long, c00 string, c01 string, c10 string, c11 string"


def _parallel(df: DataFrame) -> DataFrame:
    """Spread a synthetic-roundtrip input over the cluster. The driver's
    documents.parquet is ONE small file → ONE scan partition (the
    serialized-scan Amdahl cap, CLAUDE.md perf lessons), which would run
    every per-row SYNTHESIZE+EXTRACT gate on a single core. One narrow
    shuffle of the tiny id/text rows buys full parallelism; the pure-SQL
    gates stay scan-aligned (values are partition-independent)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _per_doc(spark: SparkSession, sf_dir: str, cols, schema: str, row) -> DataFrame:
    """The per-document gate runner: documents ``cols`` → _parallel → one
    bootstrapped mapInPandas that calls ``row(*values)`` once per input
    row (values in ``cols`` order, as Python scalars). ``row`` returns
    one output row as a dict, or a list of them (gates that build
    several source rows per document); columns come out in ``schema``
    order."""
    import pandas as pd

    names = [field.split()[0] for field in schema.split(",")]

    def fn(it):
        for pdf in it:
            out = []
            for values in zip(*(pdf[c].tolist() for c in cols)):
                r = row(*values)
                if isinstance(r, list):
                    out.extend(r)
                else:
                    out.append(r)
            yield pd.DataFrame(out, columns=names)

    return _parallel(_docs(spark, sf_dir).select(*cols)).mapInPandas(bootstrapped(fn), schema)


def _extract(url: str, payload: bytes, params=None) -> dict:
    from dedoc_spark.core.document import extract_document

    return extract_document(url, payload, None, params=params)


def _text_row(
    doc_id: int, url: str, payload: bytes, fields=("n_lines", "text_extracted"), params=None
) -> dict:
    """doc_id plus ``fields`` of ``payload`` extracted as ``url``."""
    d = _extract(url, payload, params)
    return {"doc_id": doc_id, **{f: d[f] for f in fields}}


def _grid(doc_id: int, source: str, lang: str) -> list:
    """The 2×2 table every table gate synthesizes."""
    return [["id", str(doc_id)], [source, lang]]


def _cells(d: dict) -> dict:
    """c00..c11: the cell texts of the first extracted table's 2×2 grid."""
    cells = json.loads(d["tables_json"])[0]["cells"]
    t = ["\n".join(ln["line"] for ln in c["lines"]) for row in cells for c in row]
    return {"c00": t[0], "c01": t[1], "c10": t[2], "c11": t[3]}


def _grid_row(doc_id: int, url: str, payload: bytes) -> dict:
    """q24 layout: doc_id, n_tables and the 2×2 cell texts."""
    d = _extract(url, payload)
    return {"doc_id": doc_id, "n_tables": d["n_tables"], **_cells(d)}


def _by_fmt(spark: SparkSession, sf_dir: str, parts) -> DataFrame:
    """Same-shaped per-format gates ``[(fmt, gate)]`` as one union gate
    with a leading ``fmt`` discriminator column."""
    return functools.reduce(
        DataFrame.unionByName,
        [gate(spark, sf_dir).select(F.lit(fmt).alias("fmt"), "*") for fmt, gate in parts],
    )


# ---------------------------------------------------------------------------
# q21..q24: FULL DOCX / PDF / PPTX / XLSX pipelines over per-row synthesized
# payloads, each with a closed-form oracle — the byte-identity gate for the
# binary-format readers.


def q21_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int, text: str):
        from dedoc_spark.sources.docx_fixture import build_docx, paragraph

        body = paragraph([(f"Doc {doc_id}", "")], style="Heading1") + paragraph([(text, "")])
        return _text_row(doc_id, f"{doc_id}.docx", build_docx(body))

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


# tree: root "" → header "Doc {id}" → raw_text "{text}"; json2txt →
# "\nDoc {id}\n{text}\n"
Q21_SQL = """
SELECT doc_id, CAST(2 AS BIGINT) AS n_lines,
       chr(10) || 'Doc ' || doc_id || chr(10) || text || chr(10) AS text_extracted
FROM documents
"""


def q22_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotates packaging per doc: classic 1.4, object-stream 1.5,
    Type0/Identity-H+ToUnicode — all must extract identical text (the
    closed-form oracle doesn't change with packaging) — and (r6) a
    two-column page with NO params: is_one_column_document defaults to
    the reference's "auto" (api_args.py:33), so the per-page x-origin
    histogram must flip it into column reading order (all left-column
    lines, then all right-column lines — 12 lines, not 6 interleaved
    same-y concatenations). (r6) every 5th doc additionally wraps in the
    standard security handler (RC4 / AES-128 alternating, empty user
    password, core/pdf_crypt): decryption is lossless so the closed-form
    oracle is IDENTICAL — the gate attests the decrypt path end-to-end."""

    def row(doc_id: int, text: str):
        from dedoc_spark.sources.pdf_fixture import (
            build_pdf,
            build_pdf_objstm,
            build_pdf_type0,
            encrypt_pdf,
        )

        if doc_id % 4 == 3:
            ops = "\n".join(
                f"BT /F1 12 Tf 1 0 0 1 {x:g} {700 - 20 * i:g} Tm ({t}) Tj ET"
                for i in range(6)
                for x, t in ((72, f"L{i}of{doc_id}"), (330, f"R{i}of{doc_id}"))
            )
            payload = build_pdf([[]], extra_content=[ops])
        else:
            build = (build_pdf, build_pdf_objstm, build_pdf_type0)[doc_id % 3]
            payload = build([[(f"Doc {doc_id}", True), (text, False)]])
        if doc_id % 5 == 1:
            payload = encrypt_pdf(payload, method="aesv2" if doc_id % 2 else "rc4")
        return _text_row(doc_id, f"{doc_id}.pdf", payload)

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


# both pdf lines are raw_text+multiline → they merge into ONE tree node with
# no separator (tree add_text); json2txt → "\nDoc {id}{text}\n". The
# two-column auto variant reads left column top-to-bottom then right
# column, 12 raw_text lines merged the same way.
Q22_SQL = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 12 ELSE 2 END AS BIGINT) AS n_lines,
       CASE WHEN doc_id % 4 = 3 THEN
         chr(10)
           || 'L0of' || doc_id || 'L1of' || doc_id || 'L2of' || doc_id
           || 'L3of' || doc_id || 'L4of' || doc_id || 'L5of' || doc_id
           || 'R0of' || doc_id || 'R1of' || doc_id || 'R2of' || doc_id
           || 'R3of' || doc_id || 'R4of' || doc_id || 'R5of' || doc_id
           || chr(10)
       ELSE chr(10) || 'Doc ' || doc_id || text || chr(10) END AS text_extracted
FROM documents
"""


def q23_pptx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int, text: str):
        from dedoc_spark.sources.office_fixture import build_pptx

        return _text_row(doc_id, f"{doc_id}.pptx", build_pptx([{"shapes": [[f"Doc {doc_id}"], [text]]}]))

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


# first shape is the slide title (header tag) → same tree shape as docx
Q23_SQL = Q21_SQL


def q24_xlsx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int, source: str, lang: str):
        from dedoc_spark.sources.office_fixture import build_xlsx

        return _grid_row(doc_id, f"{doc_id}.xlsx", build_xlsx([_grid(doc_id, source, lang)]))

    return _per_doc(spark, sf_dir, ["doc_id", "source", "lang"], _GRID_SCHEMA, row)


Q24_SQL = """
SELECT doc_id, CAST(1 AS BIGINT) AS n_tables, 'id' AS c00, CAST(doc_id AS VARCHAR) AS c01,
       source AS c10, lang AS c11
FROM documents
"""

# ---------------------------------------------------------------------------
# q25 LSH candidates → exact Jaccard verify (the blessed 100 TB dedup chain:
# cost linear in |candidates|, no all-pairs self-join anywhere)


def q25_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import jaccard_for_pairs

    pairs = q08_lsh_pairs(spark, sf_dir)
    return jaccard_for_pairs(pairs, _docs(spark, sf_dir), "text", "doc_id", 3)


Q25_SQL = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS sh FROM tok),
sig AS (
  SELECT doc_id, {_sql_minhash_hex(0)} AS h0, {_sql_minhash_hex(1)} AS h1,
         {_sql_minhash_hex(2)} AS h2, {_sql_minhash_hex(3)} AS h3 FROM sh
),
banded AS (
  SELECT doc_id, 0 AS band_idx, h0 || ',' || h1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_idx, h2 || ',' || h3 AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
)
SELECT c.a, c.b,
       round(len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
"""

# ---------------------------------------------------------------------------
# q26 embedding LSH candidates → exact cosine verify (embedding analogue of
# q25; hyperplanes are md5-derived so DuckDB mirrors them bit-for-bit)


def q26_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import cosine_for_pairs, embedding_lsh_pairs

    emb = _emb(spark, sf_dir)
    pairs = embedding_lsh_pairs(emb, dim=64, planes=8)
    return cosine_for_pairs(pairs, emb)


Q26_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS (
  SELECT p.p AS p,
         list_transform(generate_series(1, 64), d ->
           CAST(('0x' || substr(md5('plane' || CAST(p.p AS VARCHAR) || 'dim' || CAST(d - 1 AS VARCHAR)), 1, 8)) AS BIGINT)
             / 2147483648.0 - 1.0) AS hp
  FROM (SELECT unnest(generate_series(0, 7)) AS p) p
),
dots AS (
  SELECT e.vec_id, pl.p,
         round(list_sum(list_transform(generate_series(1, len(e.v)), i -> e.v[i] * pl.hp[i])), 6) AS dot
  FROM e CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
capped AS (
  SELECT vec_id, bucket FROM buckets
  QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM capped x JOIN capped y ON x.bucket = y.bucket WHERE x.vec_id < y.vec_id
)
SELECT c.a, c.b,
       round(list_sum(list_transform(generate_series(1, len(ea.v)), i -> ea.v[i] * eb.v[i]))
         / (sqrt(list_sum(list_transform(ea.v, t -> t * t))) * sqrt(list_sum(list_transform(eb.v, t -> t * t)))), 4) AS cos
FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b
"""

# ---------------------------------------------------------------------------
# q27 legacy .xls roundtrip: per-row BIFF8-in-OLE2 synthesis → native reader
# (core/xls_extract.py) → same closed-form oracle family as q24


def q27_xls_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int, source: str, lang: str):
        from dedoc_spark.sources.office_fixture import build_xls

        return _grid_row(doc_id, f"{doc_id}.xls", build_xls([_grid(doc_id, source, lang)]))

    return _per_doc(spark, sf_dir, ["doc_id", "source", "lang"], _GRID_SCHEMA, row)


Q27_SQL = Q24_SQL

# ---------------------------------------------------------------------------
# q28 attachment roundtrip: per-row .eml with an attached text file carrying
# the doc text → extract_with_attachments → the member row's extraction must
# equal the plain-txt closed form (q18's oracle on the same text)


def q28_attachment_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.archives import extract_with_attachments

    def row(doc_id: int, text: str):
        import email.mime.application
        import email.mime.multipart
        import email.mime.text

        msg = email.mime.multipart.MIMEMultipart()
        msg.set_boundary("====dedoc-spark-fixture====")
        msg["Subject"] = f"doc {doc_id}"
        msg.attach(email.mime.text.MIMEText("cover", "plain"))
        att = email.mime.application.MIMEApplication(text.encode("utf-8"), "octet-stream")
        att.add_header("Content-Disposition", "attachment", filename="note.txt")
        msg.attach(att)
        return {"url": f"{doc_id}.eml", "html": msg.as_bytes(), "text": ""}

    pages = _per_doc(spark, sf_dir, ["doc_id", "text"], "url string, html binary, text string", row)
    out = extract_with_attachments(pages, max_depth=1)
    members = out.filter(F.col("url").endswith("#note.txt"))
    return members.select(
        F.regexp_extract("url", r"^(\d+)\.eml", 1).cast("long").alias("doc_id"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("text_extracted").alias("member_text"),
    )


Q28_SQL = """
SELECT doc_id, CAST(1 AS BIGINT) AS n_lines, chr(10) || text || chr(10) AS member_text
FROM documents
"""

# ---------------------------------------------------------------------------
# q29 duplicate groups: LSH candidate pairs → connected components (min-id
# label propagation; DuckDB mirrors it with a recursive reachability CTE)


def q29_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import connected_components

    pairs = q08_lsh_pairs(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"), F.col("comp").cast("long").alias("comp")
    )


Q29_SQL = f"""
WITH RECURSIVE tok AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS sh FROM tok),
sig AS (
  SELECT doc_id, {_sql_minhash_hex(0)} AS h0, {_sql_minhash_hex(1)} AS h1,
         {_sql_minhash_hex(2)} AS h2, {_sql_minhash_hex(3)} AS h3 FROM sh
),
banded AS (
  SELECT doc_id, 0 AS band_idx, h0 || ',' || h1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_idx, h2 || ',' || h3 AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
edges AS (SELECT a AS x, b AS y FROM cand UNION SELECT b, a FROM cand),
reach(id, r) AS (
  SELECT DISTINCT x, x FROM edges
  UNION
  SELECT reach.id, e.y FROM reach JOIN edges e ON reach.r = e.x
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS comp FROM reach GROUP BY id
"""

# ---------------------------------------------------------------------------
# q30 IVF list assignment: argmax-cosine over md5-seeded coarse centroids
# (iters=0 → the seed selection and the assignment math are both exactly
# SQL-mirrorable; the k-means refinement loop is Spark-tested separately)


def q30_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.similarity import kmeans_fit, with_ivf_cluster

    emb = _emb(spark, sf_dir)
    centroids = kmeans_fit(emb, k=8, iters=0)
    return with_ivf_cluster(emb, centroids).select(
        "vec_id", F.col("ivf_cluster").cast("long").alias("ivf_cluster")
    )


Q30_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
seeds AS (
  SELECT v, i FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS i
    FROM e
  ) WHERE i < 8
),
scored AS (
  SELECT e.vec_id, s.i,
         list_sum(list_transform(generate_series(1, len(e.v)), j -> e.v[j] * s.v[j]))
           / (sqrt(list_sum(list_transform(e.v, x -> x * x))) * sqrt(list_sum(list_transform(s.v, x -> x * x)))) AS cos
  FROM e CROSS JOIN seeds s
)
SELECT vec_id, CAST(i AS BIGINT) AS ivf_cluster
FROM scored
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, i DESC) = 1
"""

# ---------------------------------------------------------------------------
# q31 multi-language id (stopword n-gram heuristic, expression-mirrored)


def q31_lang_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.functions import lang_id_multi

    return _docs(spark, sf_dir).select("doc_id", lang_id_multi(F.col("text")).alias("lang_multi"))


Q31_SQL = r"""
WITH t AS (
  SELECT doc_id, lower(text) AS low,
         length(text) - length(regexp_replace(lower(text), '[а-яё]', '', 'g')) AS cyr,
         length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS lat,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with)\b')) AS c_en,
         len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein)\b')) AS c_de,
         len(regexp_extract_all(lower(text), '\b(le|la|les|des|est|une|dans)\b')) AS c_fr,
         len(regexp_extract_all(lower(text), '\b(el|los|las|una|que|por|con)\b')) AS c_es
  FROM documents
)
SELECT doc_id,
  CASE WHEN cyr > lat AND cyr > 0 THEN 'ru'
       WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 THEN 'unknown'
       WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
       WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
       WHEN c_fr >= c_es THEN 'fr'
       ELSE 'es' END AS lang_multi
FROM t
"""

# ---------------------------------------------------------------------------
# q32 Gopher-rules quality gate (Rae et al. 2021 §A1.1), expression-mirrored


def q32_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.textstats import gopher_quality_flags

    return gopher_quality_flags(_docs(spark, sf_dir))


Q32_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
         string_split_regex(trim(text), '\s+') AS words,
         len(regexp_extract_all(text, '[#…]')) + len(regexp_extract_all(text, '\.\.\.')) AS symbols,
         len(regexp_extract_all(lower(text), '\b(the|be|to|of|and|that|have|with)\b')) AS stop_hits
  FROM documents
),
m AS (
  SELECT doc_id, n_words, symbols, stop_hits,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) / n_words END AS mean_wl,
         CASE WHEN n_words = 0 THEN 1.0 ELSE symbols / n_words END AS symbol_ratio,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE len(list_filter(words, w -> regexp_matches(w, '[A-Za-zА-Яа-яё]'))) / n_words END AS alpha_frac
  FROM t
)
SELECT doc_id,
  n_words >= 50 AND n_words <= 100000 AS ok_word_count,
  mean_wl >= 3 AND mean_wl <= 10 AS ok_mean_word_len,
  symbol_ratio <= 0.1 AS ok_symbol_ratio,
  alpha_frac >= 0.8 AS ok_alpha_words,
  stop_hits >= 2 AS ok_stopwords,
  (n_words >= 50 AND n_words <= 100000) AND (mean_wl >= 3 AND mean_wl <= 10)
    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 2 AS gopher_pass
FROM m
"""

# ---------------------------------------------------------------------------
# q33 C4-rules line filter (Raffel et al. 2020 §2.2), expression-mirrored


def q33_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.textstats import c4_line_flags

    return c4_line_flags(_docs(spark, sf_dir))


Q33_SQL = r"""
WITH l AS (
  SELECT doc_id, u.s.i - 1 AS line_id, u.s.line AS line FROM (
    SELECT doc_id, unnest(list_transform(string_split(text, chr(10)), (t, i) -> {'i': i, 'line': t})) AS s
    FROM documents
  ) u
)
SELECT doc_id, CAST(line_id AS BIGINT) AS line_id, line,
  regexp_matches(trim(line), '[.!?"»]$')
  AND (CASE WHEN length(trim(line)) = 0 THEN 0 ELSE len(string_split_regex(trim(line), '\s+')) END) >= 3
  AND NOT contains(lower(line), 'javascript')
  AND NOT contains(lower(line), 'lorem ipsum')
  AND NOT contains(lower(line), 'cookie')
  AND NOT contains(line, '{') AS keep
FROM l
"""

# ---------------------------------------------------------------------------
# q34 URL normalization (crawl url-dedup key) over synthesized messy urls


def q34_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.functions import normalized_url

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 4
    messy = (
        F.when(m == 0, F.concat(F.lit("HTTP://Site.Example:80/path/"), F.col("doc_id").cast("string"), F.lit("?utm_source=x&b=2&a=1#frag")))
        .when(m == 1, F.concat(F.lit("https://site.example/"), F.col("doc_id").cast("string")))
        .when(m == 2, F.lit("https://SITE.example:443?a=1&utm_campaign=z"))
        .otherwise(F.concat(F.lit("http://site.example/p/"), F.col("doc_id").cast("string"), F.lit("?fbclid=abc&z=9&y=8")))
    )
    return docs.select("doc_id", normalized_url(messy).alias("norm_url"))


Q34_SQL = r"""
WITH raw AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTP://Site.Example:80/path/' || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
      WHEN 1 THEN 'https://site.example/' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://SITE.example:443?a=1&utm_campaign=z'
      ELSE 'http://site.example/p/' || CAST(doc_id AS VARCHAR) || '?fbclid=abc&z=9&y=8' END AS u0
  FROM documents
),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(regexp_replace(u0, '#.*$', ''), '^([^:/?#]+)://', 1)) AS scheme,
    regexp_replace(regexp_replace(u0, '#.*$', ''), '^[^:/?#]+://', '') AS after
  FROM raw
),
hostpath AS (
  SELECT doc_id, scheme,
    lower(regexp_extract(after, '^([^/?#]+)', 1)) AS host0,
    regexp_replace(after, '^[^/?#]+', '') AS path_query
  FROM parts
),
norm AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
         ELSE host0 END AS host,
    CASE WHEN regexp_extract(path_query, '^([^?]*)', 1) = '' THEN '/'
         ELSE regexp_extract(path_query, '^([^?]*)', 1) END AS path,
    coalesce(array_to_string(list_sort(list_filter(string_split(coalesce(regexp_extract(path_query, '\?(.*)$', 1), ''), '&'),
      p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)='))), '&'), '') AS q2
  FROM hostpath
)
SELECT doc_id,
  scheme || '://' || host || path || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS norm_url
FROM norm
"""

# ---------------------------------------------------------------------------
# q35 Gopher repetition rules (dup-line fraction + top-bigram coverage)


def q35_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.textstats import gopher_repetition_flags

    return gopher_repetition_flags(_docs(spark, sf_dir))


Q35_SQL = f"""
WITH lines AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE length(trim(line)) > 0
),
lc AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line),
ls AS (
  SELECT doc_id,
         round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) / CAST(sum(cnt) AS BIGINT), 6) AS dup_line_frac
  FROM lc GROUP BY doc_id
),
tok AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' ')) END
  ) AS shingle FROM tok
),
bc AS (SELECT doc_id, shingle, count(*) AS cnt FROM sh GROUP BY doc_id, shingle),
bs AS (
  SELECT doc_id, round(CAST(max(cnt) AS BIGINT) / CAST(sum(cnt) AS BIGINT), 6) AS top_bigram_frac
  FROM bc GROUP BY doc_id
)
SELECT coalesce(ls.doc_id, bs.doc_id) AS doc_id,
       coalesce(dup_line_frac, 0.0) AS dup_line_frac,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       coalesce(dup_line_frac, 0.0) <= 0.30 AND coalesce(top_bigram_frac, 0.0) <= 0.20 AS rep_pass
FROM ls FULL OUTER JOIN bs ON ls.doc_id = bs.doc_id
"""

# ---------------------------------------------------------------------------
# q36 BPE-pretokenizer token counts (LLM token-budget proxy)


def q36_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.functions import bpe_token_count

    return _docs(spark, sf_dir).select(
        "doc_id", bpe_token_count(F.col("text")).cast("long").alias("bpe_tokens")
    )


Q36_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS bpe_tokens
FROM documents
"""

# ---------------------------------------------------------------------------
# q37 PII redaction over synthesized contact strings (expression-mirrored)


def q37_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.functions import redact_pii

    docs = _docs(spark, sf_dir)
    synthetic = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example or call +1 (555) 010-"), F.col("doc_id").cast("string"),
        F.lit("9 from 10.0.0."), (F.col("doc_id") % 255).cast("string"),
        F.lit(" about: "), F.col("text"),
    )
    return docs.select("doc_id", redact_pii(synthetic).alias("redacted"))


Q37_SQL = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or call +1 (555) 010-' ||
        CAST(doc_id AS VARCHAR) || '9 from 10.0.0.' || CAST(doc_id % 255 AS VARCHAR) || ' about: ' || text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
    '\+?\d[\d\- ()]{7,}\d', '<PHONE>', 'g') AS redacted
FROM documents
"""

# ---------------------------------------------------------------------------
# q38 registered-domain rollup over synthesized crawl urls


def q38_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.functions import registered_domain

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://www.news.example.com/a/"), F.col("doc_id").cast("string")))
        .when(m == 1, F.concat(F.lit("http://blogs.paper.co.uk/p"), F.col("doc_id").cast("string")))
        .when(m == 2, F.lit("https://example.org/"))
        .otherwise(F.concat(F.lit("https://cdn.static.shop.example.com:8443/x?id="), F.col("doc_id").cast("string")))
    )
    return (
        docs.select(registered_domain(url).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


Q38_SQL = r"""
WITH u AS (
  SELECT CASE doc_id % 4
    WHEN 0 THEN 'https://www.news.example.com/a/' || CAST(doc_id AS VARCHAR)
    WHEN 1 THEN 'http://blogs.paper.co.uk/p' || CAST(doc_id AS VARCHAR)
    WHEN 2 THEN 'https://example.org/'
    ELSE 'https://cdn.static.shop.example.com:8443/x?id=' || CAST(doc_id AS VARCHAR) END AS url
  FROM documents
),
h AS (
  SELECT regexp_replace(lower(coalesce(regexp_extract(url, '^[^:/?#]+://([^/?#:]+)', 1), '')), '^www\.', '') AS host
  FROM u
),
d AS (
  SELECT CASE
    WHEN coalesce(regexp_extract(host, '([^.]+\.(?:co|com|org|net|gov|edu|ac)\.(?:uk|jp|au|nz|za|in|br|kr|id|il|mx|tr|ru|ua|pl)$)', 1), '') <> ''
      THEN regexp_extract(host, '([^.]+\.(?:co|com|org|net|gov|edu|ac)\.(?:uk|jp|au|nz|za|in|br|kr|id|il|mx|tr|ru|ua|pl)$)', 1)
    WHEN coalesce(regexp_extract(host, '([^.]+\.[^.]+)$', 1), '') <> ''
      THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
    ELSE host END AS domain
  FROM h
)
SELECT domain, count(*) AS n_docs FROM d GROUP BY domain
"""

# ---------------------------------------------------------------------------
# q39 sentence segmentation (punkt-lite) — exploded sentences per doc


def q39_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.functions import sentences

    return _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(sentences(F.col("text"))).alias("sent_id", "sentence")
    ).select("doc_id", F.col("sent_id").cast("long").alias("sent_id"), "sentence")


Q39_SQL = r"""
SELECT doc_id, u.s.i - 1 AS sent_id, u.s.sent AS sentence FROM (
  SELECT doc_id, unnest(list_transform(
    list_filter(list_transform(
      string_split(regexp_replace(text, '([.!?]+)\s+', '\1' || chr(31), 'g'), chr(31)),
      s -> trim(s)), s -> length(s) > 0),
    (t, i) -> {'i': i, 'sent': t})) AS s
  FROM documents
) u
"""

# ---------------------------------------------------------------------------
# q40 pdf layout: per-line bboxes → size/spacing metadata + the line↔object
# linker (image placed under a 'table N data' caption links to that caption;
# line_object_linker.py:27-127, metadata_extractor.py:70-164). Fixed page
# geometry (12pt lines, 20pt leading from y=760, image at device
# (72,600,200,100)) makes every output column closed-form.


def q40_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int, text: str):
        from dedoc_spark.core.pdf_extract import extract_pdf_lines
        from dedoc_spark.core.pdf_objects import parse_pdf
        from dedoc_spark.sources.pdf_fixture import build_pdf

        payload = build_pdf(
            [[(f"Doc {doc_id}", True), (text, False), (f"table {doc_id} data", False)]],
            images=[[(72, 600, 200, 100)]],
        )
        lines, _ = extract_pdf_lines(parse_pdf(payload), f"{doc_id}", with_layout=True)
        notes = [(ln.line, a) for ln in lines for a in ln.annotations]
        return {
            "doc_id": doc_id,
            "linked_line": next((line for line, a in notes if a.name == "attachment"), None),
            "spacing_seq": ",".join(a.value for _, a in notes if a.name == "spacing"),
            "sizes": ",".join(sorted({a.value for _, a in notes if a.name == "size"})),
        }

    return _per_doc(
        spark, sf_dir, ["doc_id", "text"],
        "doc_id long, linked_line string, spacing_seq string, sizes string", row,
    )


# geometry constants: 3 lines of height 12 at top-down tops 20/40/60 → first
# spacing 50 (default), then 100·8/12 = 66 twice; size 13 everywhere; the
# image (top-down y 92..192) links to the nearest line above = the caption
Q40_SQL = """
SELECT doc_id, 'table ' || doc_id || ' data' AS linked_line,
       '50,66,66' AS spacing_seq, '13' AS sizes
FROM documents
"""

# ---------------------------------------------------------------------------
# q41 image decode round-trip: per doc, synthesize a 16×16 gradient
# (pixel i = (3·doc_id + i) mod 256, gray content in RGB), ENCODE it as a
# real PNG rotating the scanline filter by doc_id (None/Sub/Up), DECODE it
# with the pure-python decoder (core/image_decode), and emit the pixel-hash
# fingerprint. Only a byte-exact filter-reversal reproduces the oracle's
# hash, which DuckDB rebuilds arithmetically from generate_series.


def q41_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int):
        import numpy as np

        from dedoc_spark.core.image_decode import decode_image, encode_png, pixel_hash

        v = ((3 * doc_id + np.arange(256, dtype=np.int64)) % 256).astype(np.uint8).reshape(16, 16)
        png = encode_png(np.repeat(v[:, :, None], 3, axis=2), color_type=2, filter_type=doc_id % 3)
        w, h, _ = decode_image(png)
        return {"doc_id": doc_id, "width": w, "height": h, "px_hash": pixel_hash(png)}

    return _per_doc(spark, sf_dir, ["doc_id"], "doc_id long, width int, height int, px_hash string", row)


Q41_SQL = """
WITH px AS (
  SELECT d.doc_id, t.i, (3 * d.doc_id + t.i) % 256 AS v
  FROM documents d, generate_series(0, 255) t(i)
)
SELECT doc_id, 16 AS width, 16 AS height,
       md5('16x16' || lower(string_agg(repeat(lpad(to_hex(v), 2, '0'), 3), '' ORDER BY i)))
         AS px_hash
FROM px GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# q42 multipage table merge (relational form, operators/tables.py): per doc,
# four synthesized table parts — a 2-col table continuing across pages 0→1
# with a duplicated header (width 100→101, inside the ±3% epsilon), a 3-col
# table on page 1 (column-count break), and a width-200 table on page 2
# (width break). Chains and merged rows are closed-form per doc_id.


def q42_multipage_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.tables import merge_multipage_tables_df

    did = F.col("doc_id").cast("string")

    def part(page, seq, cols, width, rows):
        return F.struct(
            F.lit(page).alias("page_id"),
            F.lit(seq).alias("table_seq"),
            F.lit(cols).alias("n_cols"),
            F.lit(width).alias("width"),
            F.array(*[F.array(*row) for row in rows]).alias("rows"),
        )

    parts = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .select(
            "doc_id",
            F.explode(
                F.array(
                    part(0, 0, 2, 100.0, [[F.lit("h1"), F.lit("h2")],
                                          [F.concat(F.lit("a"), did), F.lit("1")]]),
                    part(1, 0, 2, 101.0, [[F.lit("h1"), F.lit("h2")],
                                          [F.lit("b"), F.concat(F.lit("d"), did)]]),
                    part(1, 1, 3, 100.0, [[F.lit("x"), F.lit("y"), F.lit("z")]]),
                    part(2, 0, 3, 200.0, [[F.lit("p"), F.lit("q"),
                                           F.concat(F.lit("r"), did)]]),
                )
            ).alias("t"),
        )
        .select(
            F.col("doc_id").alias("url"), "doc_id",
            "t.page_id", "t.table_seq", "t.n_cols", "t.width", "t.rows",
        )
    )
    merged = merge_multipage_tables_df(parts.drop("doc_id"))
    return merged.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("chain_id").cast("long").alias("chain_id"),
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("page_lo").cast("int").alias("page_lo"),
        F.col("page_hi").cast("int").alias("page_hi"),
        F.array_join(
            F.transform("rows", lambda r: F.array_join(r, ",")), ";"
        ).alias("cells"),
    )


Q42_SQL = """
SELECT d.doc_id, c.chain_id, c.n_parts, c.page_lo, c.page_hi,
       CASE c.chain_id
         WHEN 1 THEN 'h1,h2;a' || d.doc_id || ',1;b,d' || d.doc_id
         WHEN 2 THEN 'x,y,z'
         ELSE 'p,q,r' || d.doc_id
       END AS cells
FROM documents d
CROSS JOIN (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 0, 1),
                   (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 1, 1),
                   (CAST(3 AS BIGINT), CAST(1 AS BIGINT), 2, 2))
  c(chain_id, n_parts, page_lo, page_hi)
"""

# ---------------------------------------------------------------------------
# q43 substring-level duplication profile (Lee et al. 2021 signal): every
# 5-token window hashed; a window is duplicated iff its hash occurs >1 time
# corpus-wide. Linear relational plan — see dedup.duplicated_ngram_spans.


def q43_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.dedup import duplicated_ngram_spans

    return duplicated_ngram_spans(_docs(spark, sf_dir), "text", "doc_id", window=5)


Q43_SQL = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents),
sp AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 5 THEN [coalesce(array_to_string(toks, ' '), '')]
              ELSE list_transform(generate_series(1, len(toks) - 4),
                                  i -> array_to_string(toks[i:i+4], ' ')) END AS spans
  FROM tok
),
occ AS (
  SELECT doc_id, ('0x' || substr(md5(s || '#7777'), 1, 8))::BIGINT AS h
  FROM (SELECT doc_id, unnest(spans) AS s FROM sp)
),
dup AS (SELECT h, count(*) > 1 AS is_dup FROM occ GROUP BY h)
SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       round(sum(CASE WHEN dup.is_dup THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_fraction
FROM occ JOIN dup USING (h)
GROUP BY occ.doc_id
"""

# ---------------------------------------------------------------------------
# q44 winnowing fingerprints (MOSS, Schleimer et al. 2003): min-hash of
# each 4-window over char-5-gram hashes, rightmost-min tie-break encoded
# arithmetically so DuckDB mirrors it bit-for-bit.


def q44_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedoc_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), "text", "doc_id", k=5, window=4)


Q44_SQL = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^0-9a-zа-яё]+', '', 'g') AS nrm
  FROM documents
),
g AS (
  SELECT doc_id, u.s.i - 1 AS pos, u.s.h AS h FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, length(nrm) - 4),
      i -> {'i': i, 'h': ('0x' || substr(md5(substr(nrm, i, 5) || '#4242'), 1, 8))::BIGINT})) AS s
    FROM n WHERE length(nrm) >= 5
  ) u
),
sel AS (
  SELECT doc_id, pos,
         min(h * 2147483648 + (2147483647 - pos))
           OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mkey
  FROM g
)
SELECT DISTINCT doc_id, CAST(mkey // 2147483648 AS BIGINT) AS fp
FROM sel WHERE pos >= 3
"""

# ---------------------------------------------------------------------------
# q45 BMP decode round-trip: 16×8 gray-in-RGB gradient per doc packed as a
# real bottom-up 24-bit BMP; the decoder must reverse the row order and the
# BGR byte order to reproduce the oracle's top-down RGB buffer hash.


def _bmp_gradient(doc_id: int) -> bytes:
    """16×8 gray-in-RGB gradient v = (5·doc_id + 16r + c) mod 256 as a
    real bottom-up, row-padded 24-bit BMP."""
    import struct

    W, H = 16, 8
    pad = b"\x00" * ((W * 3 + 3) // 4 * 4 - W * 3)
    pixel_data = b"".join(
        bytes(v for c in range(W) for v in [(doc_id * 5 + r * 16 + c) % 256] * 3) + pad
        for r in range(H - 1, -1, -1)  # bottom-up storage
    )
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, W, H, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
        + pixel_data
    )


def q45_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    def row(doc_id: int):
        from dedoc_spark.core.image_decode import pixel_hash

        return {"doc_id": doc_id, "width": 16, "height": 8, "px_hash": pixel_hash(_bmp_gradient(doc_id))}

    return _per_doc(spark, sf_dir, ["doc_id"], "doc_id long, width int, height int, px_hash string", row)


Q45_SQL = """
WITH px AS (
  SELECT d.doc_id, t.i, (5 * d.doc_id + (t.i // 16) * 16 + (t.i % 16)) % 256 AS v
  FROM documents d, generate_series(0, 127) t(i)
)
SELECT doc_id, 16 AS width, 8 AS height,
       md5('16x8' || lower(string_agg(repeat(lpad(to_hex(v), 2, '0'), 3), '' ORDER BY i)))
         AS px_hash
FROM px GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# q46-q56: driver-oracle gates for every reader that was pytest-only in
# round 3 (VERDICT r3 "Next round" #1) — csv, json, email, mhtml, rtf,
# odt/ods/odp, legacy doc/ppt, and the native archive-explosion channel.
# Pattern is q21's: a _per_doc row function synthesizes the format
# deterministically from the documents row, runs the full extraction and
# emits closed-form columns a DuckDB oracle rebuilds arithmetically.


_LINEAR = ("n_lines", "text_linear")
_LINEAR_SCHEMA = "doc_id long, n_lines long, text_linear string"


def q46_csv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSVReader gate (csv_reader.py:17-58): one Table of stringified
    cells; the reader must undo csv quoting exactly."""
    def row(doc_id: int, source: str, lang: str):
        import csv
        import io

        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerows(_grid(doc_id, source, lang))
        return _grid_row(doc_id, f"{doc_id}.csv", buf.getvalue().encode())

    return _per_doc(spark, sf_dir, ["doc_id", "source", "lang"], _GRID_SCHEMA, row)


Q46_SQL = Q24_SQL


def q47_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JsonReader gate (json_reader.py:22-131): stack DFS, sorted keys —
    {"id": N, "txt": text} flattens to key/raw_text pairs in key order."""

    def row(doc_id: int, text: str, source: str, lang: str):
        return _text_row(doc_id, f"{doc_id}.json", json.dumps({"id": doc_id, "txt": text}).encode(), _LINEAR)

    return _per_doc(spark, sf_dir, ["doc_id", "text", "source", "lang"], _LINEAR_SCHEMA, row)


# DFS trace: key "id" → raw "{id}" → key "txt" → raw "{text}" (4 lines);
# text_linear joins them with \n (unstructured_document.py:44-45)
Q47_SQL = """
SELECT doc_id, CAST(4 AS BIGINT) AS n_lines,
       'id' || chr(10) || doc_id || chr(10) || 'txt' || chr(10) || text AS text_linear
FROM documents
"""


def q48_email_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EmailReader gate (email_reader.py:34-220): subject appears TWICE
    (root line + subject field — reference quirk), header fields become
    typed lines, the text/plain body splits into \\n-suffixed lines."""

    def row(doc_id: int, text: str, source: str, lang: str):
        eml = (
            f"Subject: Doc {doc_id}\r\nFrom: alice@example.com\r\nTo: bob@example.com\r\n"
            f"Date: Mon, 01 Jan 2024 00:00:00 +0000\r\nMIME-Version: 1.0\r\n"
            f"Content-Type: text/plain; charset=utf-8\r\n\r\n{text}"
        )
        return _text_row(doc_id, f"{doc_id}.eml", eml.encode(), _LINEAR)

    return _per_doc(spark, sf_dir, ["doc_id", "text", "source", "lang"], _LINEAR_SCHEMA, row)


# lines: subject-as-root, subject, from, to, date, body ("{text}\n")
Q48_SQL = """
SELECT doc_id, CAST(6 AS BIGINT) AS n_lines,
       'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) ||
       'alice@example.com' || chr(10) || 'bob@example.com' || chr(10) ||
       'Mon, 01 Jan 2024 00:00:00 +0000' || chr(10) || text || chr(10) AS text_linear
FROM documents
"""


def q49_mhtml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MhtmlReader gate (mhtml_reader.py:33-124): the html part routes
    through the HTML core — output matches q17's closed form."""

    def row(doc_id: int, text: str, source: str, lang: str):
        mh = (
            "From: <Saved by test>\r\nSubject: snap\r\nMIME-Version: 1.0\r\n"
            'Content-Type: multipart/related; boundary="BND"\r\n\r\n'
            "--BND\r\nContent-Type: text/html\r\nContent-Location: https://x/\r\n\r\n"
            f"<html><body><h1>Doc {doc_id}</h1><p>{text}</p></body></html>\r\n"
            "--BND--\r\n"
        )
        return _text_row(doc_id, f"{doc_id}.mhtml", mh.encode())

    return _per_doc(spark, sf_dir, ["doc_id", "text", "source", "lang"], _TEXT_SCHEMA, row)


Q49_SQL = """
SELECT doc_id, CAST(2 AS BIGINT) AS n_lines,
       chr(10) || 'Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10) AS text_extracted
FROM documents
"""


def q50_rtf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF gate (reference converts via soffice, docx_converter.py:15-28;
    here the native control-word parser, core/rtf_extract.py): \\par maps
    to a line break, the control word eats one trailing space."""

    def row(doc_id: int, text: str):
        return _text_row(doc_id, f"{doc_id}.rtf", f"{{\\rtf1\\ansi Doc {doc_id}\\par {text}}}".encode())

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


Q50_SQL = Q21_SQL


def q51_odt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODT gate (native core/odf_extract.py): text:h outline-level 1 →
    header line, text:p → raw line — same tree shape as docx."""

    def row(doc_id: int, text: str):
        from dedoc_spark.sources.office_fixture import build_odt

        return _text_row(doc_id, f"{doc_id}.odt", build_odt([("h", 1, f"Doc {doc_id}"), ("p", text)]))

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


Q51_SQL = Q21_SQL


def q52_ods_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS gate: table:table-cell grid → one Table, q24 cell layout."""
    def row(doc_id: int, source: str, lang: str):
        from dedoc_spark.sources.office_fixture import build_ods

        return _grid_row(doc_id, f"{doc_id}.ods", build_ods([_grid(doc_id, source, lang)]))

    return _per_doc(spark, sf_dir, ["doc_id", "source", "lang"], _GRID_SCHEMA, row)


Q52_SQL = Q24_SQL


def q53_odp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODP gate: first paragraph of each draw:page is the slide title
    (header tag) — same tree shape as pptx (q23)."""

    def row(doc_id: int, text: str):
        from dedoc_spark.sources.office_fixture import build_odp

        return _text_row(doc_id, f"{doc_id}.odp", build_odp([[f"Doc {doc_id}", text]]))

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


Q53_SQL = Q21_SQL


def q54_doc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .doc gate (native piece-table reader, core/doc_extract.py):
    paragraphs join through the txt pipeline."""

    def row(doc_id: int, text: str):
        from dedoc_spark.sources.office_fixture import build_doc

        return _text_row(doc_id, f"{doc_id}.doc", build_doc([f"Doc {doc_id}", text]))

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


Q54_SQL = Q21_SQL


def q55_ppt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .ppt gate (native record-scan reader, core/doc_extract.py):
    TextCharsAtom/TextBytesAtom texts join through the txt pipeline."""

    def row(doc_id: int, text: str):
        from dedoc_spark.sources.office_fixture import build_ppt

        return _text_row(doc_id, f"{doc_id}.ppt", build_ppt([f"Doc {doc_id}", text]))

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TEXT_SCHEMA, row)


Q55_SQL = Q21_SQL


def q56_archive_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native archive-explosion gate (archive_reader.py:18-55 semantics
    through operators/archives.extract_with_archives): each document
    becomes a deterministic tar.gz of two txt members PLUS a RAR4
    container with one stored member (r6 — core/rar_extract.py walks the
    container natively; only proprietary rar DECOMPRESSION stays a typed
    error); the pipeline must explode all of them into url#member rows
    and extract each through the txt reader. The iterative explode
    itself (DISK_ONLY per-level persist, typed error rows) is the unit
    under test."""
    from dedoc_spark.operators.archives import extract_with_archives

    def row(doc_id: int, text: str):
        import gzip
        import io
        import tarfile

        from dedoc_spark.sources.archive_fixture import build_rar4_stored

        raw = io.BytesIO()
        with tarfile.open(fileobj=raw, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for name, body in (("a.txt", text.encode()), ("b.txt", f"Doc {doc_id}".encode())):
                info = tarfile.TarInfo(name)
                info.size = len(body)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(body))
        # fixed mtime + no filename → byte-deterministic gzip
        tgz = gzip.compress(raw.getvalue(), mtime=0)
        rar = build_rar4_stored([("c.txt", f"Rar {doc_id}".encode())])
        return [
            {"url": f"{doc_id}.tgz", "html": tgz, "text": ""},
            {"url": f"{doc_id}.rar", "html": rar, "text": ""},
        ]

    src = _per_doc(spark, sf_dir, ["doc_id", "text"], "url string, html binary, text string", row)
    out = extract_with_archives(src, max_depth=1)
    return out.select(
        F.split(F.split("url", "#")[0], r"\.")[0].cast("long").alias("doc_id"),
        F.split("url", "#")[1].alias("member"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "text_extracted",
        "error",
    )


# three member rows per document (tar.gz a/b + rar4-stored c), each a
# single-line txt doc (q18 form)
Q56_SQL = """
SELECT doc_id, 'a.txt' AS member, CAST(1 AS BIGINT) AS n_lines,
       chr(10) || text || chr(10) AS text_extracted, CAST(NULL AS VARCHAR) AS error
FROM documents
UNION ALL
SELECT doc_id, 'b.txt' AS member, CAST(1 AS BIGINT) AS n_lines,
       chr(10) || 'Doc ' || doc_id || chr(10) AS text_extracted, CAST(NULL AS VARCHAR) AS error
FROM documents
UNION ALL
SELECT doc_id, 'c.txt' AS member, CAST(1 AS BIGINT) AS n_lines,
       chr(10) || 'Rar ' || doc_id || chr(10) AS text_extracted, CAST(NULL AS VARCHAR) AS error
FROM documents
"""


_RULED_SCHEMA = (
    "doc_id long, n_lines long, n_tables long, text_extracted string, "
    "c00 string, c01 string, c10 string, c11 string"
)


def _ruled_row(doc_id: int, text: str, source: str, lang: str, gost: bool = False) -> dict:
    """q57 (and, with ``gost``, q65): the body line plus a ruled 2×2 table
    drawn as line art — inside a GOST drawing frame whose stamp reads
    "Sheet {doc_id}" when ``gost`` — extracted with table analysis."""
    from dedoc_spark.sources.pdf_fixture import build_pdf, gost_frame_ops, table_ops

    ops = table_ops(72, 700, [100, 100], 20, _grid(doc_id, source, lang))
    params = {"need_pdf_table_analysis": True, "with_layout": True}
    if gost:
        ops = gost_frame_ops(f"Sheet {doc_id}") + "\n" + ops
        params = {"need_gost_frame_analysis": True, **params}
    d = _extract(f"{doc_id}.pdf", build_pdf([[(text, False)]], extra_content=[ops]), params)
    return {
        "doc_id": doc_id,
        "n_lines": d["n_lines"],
        "n_tables": d["n_tables"],
        "text_extracted": d["text_extracted"],
        **_cells(d),
    }


def q57_pdf_ruled_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Txt-layer ruled-table gate (pdf_txtlayer_reader.py:49-73 contract,
    core/pdf_tables.py): each doc is a PDF with one body line plus a ruled
    2×2 table drawn as content-stream line art. With
    need_pdf_table_analysis the grid must come back as a Table with the
    right cells and the captured text must LEAVE the page flow (the
    unreadable-block exclusion), so n_lines stays 1."""
    return _per_doc(spark, sf_dir, ["doc_id", "text", "source", "lang"], _RULED_SCHEMA, _ruled_row)


Q57_SQL = """
SELECT doc_id, CAST(1 AS BIGINT) AS n_lines, CAST(1 AS BIGINT) AS n_tables,
       chr(10) || text || chr(10) AS text_extracted,
       'id' AS c00, CAST(doc_id AS VARCHAR) AS c01, source AS c10, lang AS c11
FROM documents
"""

def q58_law_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-family structure gate (core/law_structure.py; reference contract
    abstract_law_structure_extractor.py:56-82 + law_structure_excractor.py):
    zones (title/body/cellar/application), unit hierarchy (article/item/
    subitem) and prefix-split postprocess checked via the full per-line
    type sequence; the item's split-off rest line carries the document's
    own text."""

    def row(doc_id: int, text: str):
        return _typed_lines_row(doc_id, text, "law", [
            "ЗАКОН",
            "Статья 1. Сфера",
            f"1) {text}",
            "а) подпункт один",
            "Президент Российской Федерации",
            "Приложение",
            "Статья 2. Нормы",
        ])

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TYPED_LINES_SCHEMA, row)


Q58_SQL = """
SELECT doc_id, CAST(10 AS BIGINT) AS n_lines,
       'root,body,article,item,raw_text,subitem,raw_text,cellar,application,article' AS types_seq,
       ' ' || text || chr(10) AS text_rest
FROM documents
"""

_TYPED_LINES_SCHEMA = "doc_id long, n_lines long, types_seq string, text_rest string"


def _typed_lines_row(doc_id: int, text: str, doc_type: str, body: list) -> dict:
    """Domain-structure gates (q58-q60, q62): the synthetic document
    ``body`` (built around the row's text) extracted with
    params={"document_type": doc_type} → the full per-line type sequence
    plus the raw_text line that carries the document's own text."""
    d = _extract(f"{doc_id}.txt", "\n".join(body).encode(), {"document_type": doc_type})
    lines = json.loads(d["lines_json"])
    return {
        "doc_id": doc_id,
        "n_lines": len(lines),
        "types_seq": ",".join(ln["hl"]["line_type"] for ln in lines),
        "text_rest": next(
            (ln["line"] for ln in lines if ln["hl"]["line_type"] == "raw_text" and text in ln["line"]),
            "",
        ),
    }


def q59_tz_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TZ structure gate (core/tz_diploma.py; tz_structure_extractor.py:
    35-77 + tz body builder): title → root, TOC zone, named раздел item
    (depth 8), dotted item (9, dot count in level_2), bullet (10), item
    prefix split."""

    def row(doc_id: int, text: str):
        return _typed_lines_row(doc_id, text, "tz", [
            "ТЕХНИЧЕСКОЕ ЗАДАНИЕ",
            "Содержание",
            "Раздел 1 Общие сведения .......... 2",
            "Раздел 2 Назначение .......... 3",
            "Раздел 1 Общие сведения",
            f"1.1 {text}",
            "- пункт списка",
        ])

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TYPED_LINES_SCHEMA, row)


Q59_SQL = """
SELECT doc_id, CAST(10 AS BIGINT) AS n_lines,
       'root,toc,toc_item,toc_item,body,item,item,raw_text,item,raw_text' AS types_seq,
       ' ' || text || chr(10) AS text_rest
FROM documents
"""


def q60_diploma_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diploma structure gate (core/tz_diploma.py;
    diploma_structure_extractor.py:38-71): TOC heuristic detection +
    replacement, named-item keywords, pattern-composition list levels."""

    def row(doc_id: int, text: str):
        return _typed_lines_row(doc_id, text, "diploma", [
            "ДИПЛОМНАЯ РАБОТА",
            "СОДЕРЖАНИЕ",
            "Введение .......... 3",
            "Глава 1 Обзор .......... 5",
            "1.1 Постановка .......... 6",
            "1.2 Методы .......... 9",
            "Глава 2 Эксперименты .......... 12",
            "2.1 Датасет .......... 13",
            "Заключение .......... 20",
            "Список литературы .......... 22",
            "Введение",
            text,
            "Глава 1 Обзор",
            f"1) {text}",
            "Заключение",
            "итоги работы",
        ])

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TYPED_LINES_SCHEMA, row)


Q60_SQL = """
SELECT doc_id, CAST(17 AS BIGINT) AS n_lines,
       'root,toc,toc_item,toc_item,toc_item,toc_item,toc_item,toc_item,toc_item,toc_item,'
       || 'body,named_item,raw_text,named_item,list_item,named_item,raw_text' AS types_seq,
       text || chr(10) AS text_rest
FROM documents
"""

def q62_fintoc_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FinTOC gate (core/fintoc.py; fintoc_structure_extractor.py:60-77):
    body lines matching detected TOC items become headers whose level_2
    is the TOC depth (dotted numbering), everything else raw_text."""

    def row(doc_id: int, text: str):
        return _typed_lines_row(doc_id, text, "fintoc", [
            "PROSPECTUS",
            "CONTENTS",
            "1 Risk Factors .......... 4",
            "2 Use of Proceeds .......... 9",
            "2.1 General Allocation .......... 10",
            "3 Dividend Policy .......... 14",
            "4 Capitalisation .......... 20",
            "5 Selected Financials .......... 25",
            "6 Business Overview .......... 30",
            "1 Risk Factors",
            text,
            "2.1 General Allocation",
            "more ordinary prose body",
            "closing ordinary prose line",
        ])

    return _per_doc(spark, sf_dir, ["doc_id", "text"], _TYPED_LINES_SCHEMA, row)


Q62_SQL = """
SELECT doc_id, CAST(14 AS BIGINT) AS n_lines,
       'raw_text,raw_text,raw_text,raw_text,raw_text,raw_text,raw_text,raw_text,raw_text,'
       || 'header,raw_text,header,raw_text,raw_text' AS types_seq,
       text || chr(10) AS text_rest
FROM documents
"""


def q61_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring removal gate (Lee et al. 2021 ExactSubstr semantics,
    operators/dedup.remove_duplicated_spans): the DuckDB oracle rebuilds
    the whole pipeline — token explode, lead-window spans, hash32, global
    canonical-occurrence argmin, covered-position removal, text rebuild —
    expression for expression."""
    from dedoc_spark.operators.dedup import remove_duplicated_spans

    return remove_duplicated_spans(_docs(spark, sf_dir), window=5)


Q61_SQL = """
WITH toks AS (
  SELECT doc_id, u.s.i - 1 AS pos, u.s.tok AS tok FROM (
    SELECT doc_id, unnest(list_transform(
      list_filter(string_split_regex(lower(text), '[^0-9a-zа-яё]+'), x -> length(x) > 0),
      (x, i) -> {'i': i, 'tok': x})) AS s
    FROM documents) u
),
grams AS (
  SELECT doc_id, pos, tok,
         lead(tok, 1) OVER w AS g1, lead(tok, 2) OVER w AS g2,
         lead(tok, 3) OVER w AS g3, lead(tok, 4) OVER w AS g4
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
spans AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(tok || ' ' || g1 || ' ' || g2 || ' ' || g3 || ' ' || g4 || '#7777'), 1, 15))::BIGINT AS h
  FROM grams WHERE g4 IS NOT NULL
),
agg AS (
  SELECT h, count(*) AS occ, min(struct_pack(i := doc_id, p := pos)) AS canon
  FROM spans GROUP BY h
),
rem AS (
  SELECT DISTINCT s.doc_id, s.pos + k.g AS pos
  FROM spans s
  JOIN agg a ON s.h = a.h AND a.occ > 1
            AND NOT (s.doc_id = a.canon.i AND s.pos = a.canon.p)
  CROSS JOIN generate_series(0, 4) k(g)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
  WHERE r.pos IS NULL
),
reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_dedup, count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(reb.text_dedup, '') AS text_dedup,
       CAST(coalesce(tot.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(tot.n_tokens, 0) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN reb ON d.doc_id = reb.doc_id
"""

def q63_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize gate (operators/multimodal.image_resize):
    the q45 BMP gradient downscaled 16×8 → 8×4; NN source index is
    floor(i·in/out) = 2i, so the oracle rebuilds the resized buffer
    arithmetically (v = (5·doc + 2r·16 + 2c) mod 256)."""
    from dedoc_spark.operators.multimodal import image_resize

    def row(doc_id: int):
        return {"media_id": str(doc_id), "media": _bmp_gradient(doc_id)}

    media = _per_doc(spark, sf_dir, ["doc_id"], "media_id string, media binary", row)
    out = image_resize(media, 8, 4)
    return out.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "width",
        "height",
        "px_hash",
        "error",
    )


Q63_SQL = """
WITH px AS (
  SELECT d.doc_id, r.r, c.c, (5 * d.doc_id + (2 * r.r) * 16 + (2 * c.c)) % 256 AS v
  FROM documents d, generate_series(0, 3) r(r), generate_series(0, 7) c(c)
)
SELECT doc_id, 8 AS width, 4 AS height,
       md5('8x4' || lower(string_agg(repeat(lpad(to_hex(v), 2, '0'), 3), '' ORDER BY r, c))) AS px_hash,
       CAST(NULL AS VARCHAR) AS error
FROM px GROUP BY doc_id
"""


def q64_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling gate (operators/multimodal.gif_frame_sample over
    core/image_decode.decode_gif_frames): each doc is a 3-frame animated
    GIF of 4×4 index grids over a 4-gray palette; sampling every 2nd frame
    must return frames 0 and 2 with arithmetically reconstructable
    pixels (gray = 85·((doc + frame + 4r + c) mod 4))."""
    from dedoc_spark.operators.multimodal import gif_frame_sample

    def row(doc_id: int):
        import numpy as np

        from dedoc_spark.core.image_decode import encode_gif_frames

        palette = bytes(v for g in (0, 85, 170, 255) for v in (g, g, g))
        frames = [
            np.fromfunction(lambda r, c: (doc_id + f + 4 * r + c) % 4, (4, 4)).astype(np.uint8)
            for f in range(3)
        ]
        return {"media_id": str(doc_id), "media": encode_gif_frames(frames, palette)}

    media = _per_doc(spark, sf_dir, ["doc_id"], "media_id string, media binary", row)
    out = gif_frame_sample(media, every_n=2)
    return out.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "frame_idx",
        "width",
        "height",
        "px_hash",
        "error",
    )


Q64_SQL = """
WITH px AS (
  SELECT d.doc_id, f.f, r.r, c.c,
         85 * ((d.doc_id + f.f + 4 * r.r + c.c) % 4) AS v
  FROM documents d, unnest([0, 2]) f(f), generate_series(0, 3) r(r), generate_series(0, 3) c(c)
)
SELECT doc_id, CAST(f AS INT) AS frame_idx, 4 AS width, 4 AS height,
       md5('4x4' || lower(string_agg(repeat(lpad(to_hex(v), 2, '0'), 3), '' ORDER BY r, c))) AS px_hash,
       CAST(NULL AS VARCHAR) AS error
FROM px GROUP BY doc_id, f
"""

# ---------------------------------------------------------------------------
# Consolidated capability-family gates (round 5, VERDICT r4 "Next round" #1).
#
# The driver attests only the FIRST 50 entries of queries() — round 4
# registered 64 and CORRECTNESS_r04 stopped at q50, leaving 14 shipped
# capabilities outside the hard gate. Same-shaped per-format gates are
# folded into one union gate per result shape with a ``fmt``/``op``/
# ``metric`` discriminator column, and one-row-per-doc scalar gates into
# equi-joins on doc_id, so EVERY capability family carries a driver-attested
# oracle row.


def q21_doc_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven text-shaped readers in one gate — docx (q21), pptx (q23),
    rtf (q50), odt (q51), odp (q53), legacy .doc (q54), legacy .ppt (q55).
    Every branch must extract the identical closed-form two-line tree
    (header "Doc {id}" + body), so one Q21-family oracle covers all seven,
    discriminated by fmt."""
    return _by_fmt(spark, sf_dir, [
        ("docx", q21_docx_extract),
        ("pptx", q23_pptx_extract),
        ("rtf", q50_rtf_extract),
        ("odt", q51_odt_extract),
        ("odp", q53_odp_extract),
        ("doc", q54_doc_extract),
        ("ppt", q55_ppt_extract),
    ])


Q21F_SQL = """
SELECT f.fmt, doc_id, CAST(2 AS BIGINT) AS n_lines,
       chr(10) || 'Doc ' || doc_id || chr(10) || text || chr(10) AS text_extracted
FROM documents
CROSS JOIN (VALUES ('docx'), ('pptx'), ('rtf'), ('odt'), ('odp'), ('doc'), ('ppt')) f(fmt)
"""


def q24_table_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four grid-shaped readers in one gate — xlsx (q24), legacy .xls
    (q27), csv (q46), ods (q52); all share the Q24 2×2-cell closed form."""
    return _by_fmt(spark, sf_dir, [
        ("xlsx", q24_xlsx_extract),
        ("xls", q27_xls_extract),
        ("csv", q46_csv_extract),
        ("ods", q52_ods_extract),
    ])


Q24F_SQL = """
SELECT f.fmt, doc_id, CAST(1 AS BIGINT) AS n_tables, 'id' AS c00,
       CAST(doc_id AS VARCHAR) AS c01, source AS c10, lang AS c11
FROM documents
CROSS JOIN (VALUES ('xlsx'), ('xls'), ('csv'), ('ods')) f(fmt)
"""


def q25_pair_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two candidate-pair exact-verify paths of the dedup chain in one
    gate: LSH→Jaccard over shingles (q25) and hyperplane-LSH→cosine over
    embeddings (q26). Both are linear in |candidates| — no self-join."""
    jac = q25_lsh_jaccard(spark, sf_dir).select(
        F.lit("jaccard").alias("metric"), "a", "b", F.col("jaccard").alias("value")
    )
    cos = q26_lsh_cosine(spark, sf_dir).select(
        F.lit("cosine").alias("metric"), "a", "b", F.col("cos").alias("value")
    )
    return jac.unionByName(cos)


Q25F_SQL = f"""
SELECT 'jaccard' AS metric, a, b, jaccard AS value FROM ({Q25_SQL}) j
UNION ALL
SELECT 'cosine' AS metric, a, b, cos AS value FROM ({Q26_SQL}) c
"""


# Fixed 2-class depth-2 ensemble in the PUBLIC get_dump(dump_format=
# "json") shape (r6): the unit under test is operators/xgboost_json.py's
# pure-numpy loader + vectorized traversal — the same code path the
# reference's huggingface artifacts run through — so the trees are
# deliberately small enough to mirror exactly in SQL. The XOR-style leaf
# layout needs BOTH features (f0 = whitespace word count, f1 = char
# count) to classify; thresholds sit at the sf0.01 medians so all four
# leaves are exercised (244/2/6/248 docs per quadrant).
def _xgb_gate_dump() -> list:
    def tree(sign: float) -> dict:
        return {
            "nodeid": 0, "split": "f0", "split_condition": 56.5,
            "yes": 1, "no": 2, "missing": 1,
            "children": [
                {"nodeid": 1, "split": "f1", "split_condition": 306.5,
                 "yes": 3, "no": 4, "missing": 3,
                 "children": [{"nodeid": 3, "leaf": 1.2 * sign},
                              {"nodeid": 4, "leaf": -0.7 * sign}]},
                {"nodeid": 2, "split": "f1", "split_condition": 306.5,
                 "yes": 5, "no": 6, "missing": 5,
                 "children": [{"nodeid": 5, "leaf": -0.4 * sign},
                              {"nodeid": 6, "leaf": 0.9 * sign}]},
            ],
        }

    return [tree(1.0), tree(-1.0)]  # round-robin groups: class 0, class 1


def q31_xgb_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc label from the numpy XGBoost-JSON predictor (r6,
    operators/xgboost_json.py — the loader that consumes the reference's
    public artifact shapes, abstract_pickled_classifier.py:29-52)."""
    import pandas as pd

    dump = _xgb_gate_dump()

    def fn(it):
        import numpy as np

        from dedoc_spark.operators.xgboost_json import load_xgboost_json

        model, _ = load_xgboost_json(dump, classes=["drop", "keep"], num_class=2)
        for pdf in it:
            text = pdf["text"]
            X = np.column_stack([
                text.map(lambda t: len(t.split())).to_numpy(np.float64),
                text.str.len().to_numpy(np.float64),
            ])
            margins = model.predict_margin(X)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "xgb_label": model.predict(X),
                    "xgb_margin": margins[:, 0],
                }
            )

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(bootstrapped(fn), "doc_id long, xgb_label string, xgb_margin double")
    )


# class-0 margin = base_margin(0.5, softprob) + leaf = 0.5 + leaf; the
# mirrored class-1 tree makes argmax ⇔ sign(leaf), ties impossible
Q31X_SQL = r"""
SELECT doc_id,
  CASE WHEN (nw <= 56) = (nc <= 306) THEN 'drop' ELSE 'keep' END AS xgb_label,
  CAST(0.5 + CASE WHEN nw <= 56 THEN (CASE WHEN nc <= 306 THEN 1.2 ELSE -0.7 END)
                  ELSE (CASE WHEN nc <= 306 THEN -0.4 ELSE 0.9 END) END
       AS DOUBLE) AS xgb_margin
FROM (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS nw,
         length(text) AS nc
  FROM documents
)
"""


def q31_doc_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four one-row-per-doc scalar-function gates equi-joined on doc_id:
    n-gram language ID (q31), BPE-pretokenizer token count (q36), PII
    redaction (q37), and (r6) the numpy XGBoost-JSON predictor over a
    fixed public-shape dump."""
    return (
        q31_lang_multi(spark, sf_dir)
        .join(q36_bpe_tokens(spark, sf_dir), "doc_id")
        .join(q37_pii_redact(spark, sf_dir), "doc_id")
        .join(q31_xgb_labels(spark, sf_dir), "doc_id")
    )


Q31F_SQL = f"""
SELECT l.doc_id, l.lang_multi, t.bpe_tokens, p.redacted,
       x.xgb_label, x.xgb_margin
FROM ({Q31_SQL}) l
JOIN ({Q36_SQL}) t ON l.doc_id = t.doc_id
JOIN ({Q37_SQL}) p ON l.doc_id = p.doc_id
JOIN ({Q31X_SQL}) x ON l.doc_id = x.doc_id
"""


def q32_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (q32) + Gopher repetition rules (q35) joined on
    doc_id — the full per-document quality gate in one attested row set."""
    return q32_gopher_flags(spark, sf_dir).join(
        q35_gopher_repetition(spark, sf_dir), "doc_id"
    )


Q32F_SQL = f"""
SELECT g.doc_id, g.ok_word_count, g.ok_mean_word_len, g.ok_symbol_ratio,
       g.ok_alpha_words, g.ok_stopwords, g.gopher_pass,
       r.dup_line_frac, r.top_bigram_frac, r.rep_pass
FROM ({Q32_SQL}) g JOIN ({Q35_SQL}) r ON g.doc_id = r.doc_id
"""


def q41_image_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-python image decode round-trips in one gate: PNG with rotating
    scanline filters (q41) and bottom-up padded 24-bit BMP (q45)."""
    return _by_fmt(spark, sf_dir, [("png", q41_image_decode), ("bmp", q45_bmp_decode)])


Q41F_SQL = f"""
SELECT 'png' AS fmt, * FROM ({Q41_SQL}) a
UNION ALL
SELECT 'bmp' AS fmt, * FROM ({Q45_SQL}) b
"""


def q48_mime_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two MIME-envelope readers in one gate: EmailReader (q48,
    subject-twice quirk kept) and MhtmlReader (q49, html part through the
    HTML core). Output text columns are aliased to a shared text_out."""
    eml = q48_email_extract(spark, sf_dir).select(
        F.lit("eml").alias("fmt"), "doc_id", "n_lines",
        F.col("text_linear").alias("text_out"),
    )
    mh = q49_mhtml_extract(spark, sf_dir).select(
        F.lit("mhtml").alias("fmt"), "doc_id", "n_lines",
        F.col("text_extracted").alias("text_out"),
    )
    return eml.unionByName(mh)


Q48F_SQL = f"""
SELECT 'eml' AS fmt, doc_id, n_lines, text_linear AS text_out FROM ({Q48_SQL}) e
UNION ALL
SELECT 'mhtml' AS fmt, doc_id, n_lines, text_extracted AS text_out FROM ({Q49_SQL}) m
"""


def q63_media_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal media ops in one gate: real nearest-neighbor resize of
    the BMP gradient (q63) and animated-GIF every-nth frame sampling
    (q64); resize rows carry frame_idx NULL."""
    rz = q63_image_resize(spark, sf_dir).select(
        F.lit("resize").alias("op"), "doc_id",
        F.lit(None).cast("int").alias("frame_idx"),
        "width", "height", "px_hash", "error",
    )
    gf = q64_gif_frame_sample(spark, sf_dir).select(
        F.lit("gif_sample").alias("op"), "doc_id", "frame_idx",
        "width", "height", "px_hash", "error",
    )
    return rz.unionByName(gf)


Q63F_SQL = f"""
SELECT 'resize' AS op, doc_id, CAST(NULL AS INT) AS frame_idx, width, height, px_hash, error
FROM ({Q63_SQL}) r
UNION ALL
SELECT 'gif_sample' AS op, doc_id, frame_idx, width, height, px_hash, error
FROM ({Q64_SQL}) g
"""


def q65_gost_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOST-frame gate on the txt-layer path (gost_frame_recognizer.py:20-44
    + pdf_txtlayer_reader.py:63-70, content-stream port in
    core/pdf_tables.detect_gost_frame): each doc is a PDF with a GOST
    drawing frame (outer border, >65%-area content box, title block with a
    stamp line) plus one body line and a ruled 2×2 table inside the frame.
    With need_gost_frame_analysis + need_pdf_table_analysis the stamp must
    leave the page (outside the readable block), the frame itself must NOT
    come back as a table, and the q57 table contract must hold inside."""
    return _per_doc(
        spark, sf_dir, ["doc_id", "text", "source", "lang"], _RULED_SCHEMA,
        functools.partial(_ruled_row, gost=True),
    )


# same closed form as Q57: the stamp line is excluded by the frame filter,
# the table is captured, only the body line survives in the flow
Q65_SQL = Q57_SQL


def q66_tei_article(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArticleReader TEI gate (article_reader.py:64-542 analysis half,
    core/tei_extract.py): each doc is a GROBID-shaped TEI response with a
    title, abstract, one numbered section (plain-text paragraph keeps the
    reference's trailing newline), a 2×2 table figure, one UNTYPED figure
    (r6 — under with_attachments the reference crops it from the source
    PDF, article_reader.py:349-399; the TEI-response path has no pixels,
    so the typed no-pixels warning row must name its xml:id), and one
    bibliography item with a page biblScope. Closed-form line list:
    root, Abstract, abstract text, "1. Sec {source}", "{text}\\n",
    bibliography header, empty item line, "{id}-{id+7}" page scope."""

    def row(doc_id: int, text: str, source: str, lang: str):
        from xml.sax.saxutils import escape

        tei = (
            '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc>'
            f"<titleStmt><title>Doc {doc_id}</title></titleStmt></fileDesc>"
            f"<profileDesc><abstract><p>{escape(text)}</p></abstract></profileDesc>"
            "</teiHeader><text><body>"
            f'<div><head n="1.">Sec {escape(source)}</head><p>{escape(text)}</p></div>'
            '<figure type="table" xml:id="tab_0"><head>T</head><figDesc>d</figDesc>'
            f"<table><row><cell>id</cell><cell>{doc_id}</cell></row>"
            f"<row><cell>{escape(source)}</cell><cell>{escape(lang)}</cell></row></table></figure>"
            f'<figure xml:id="fig_{doc_id}"/>'
            '</body><back><div type="references"><listBibl><biblStruct xml:id="b0">'
            f'<monogr><imprint><biblScope unit="page" from="{doc_id}" to="{doc_id + 7}"/>'
            "</imprint></monogr></biblStruct></listBibl></div></back></text></TEI>"
        )
        d = _extract(f"{doc_id}.tei.xml", tei.encode(), {"with_attachments": "true"})
        return {
            "doc_id": doc_id,
            "n_lines": d["n_lines"],
            "n_tables": d["n_tables"],
            "text_linear": d["text_linear"],
            "fig_warning": next((w for w in d["warnings"] if w.startswith("attachment skipped")), None),
        }

    return _per_doc(
        spark, sf_dir, ["doc_id", "text", "source", "lang"],
        "doc_id long, n_lines long, n_tables long, text_linear string, fig_warning string", row,
    )


Q66_SQL = """
SELECT doc_id, CAST(8 AS BIGINT) AS n_lines, CAST(1 AS BIGINT) AS n_tables,
       'Doc ' || doc_id || chr(10) || 'Abstract' || chr(10) || text || chr(10) ||
       '1. Sec ' || source || chr(10) || text || chr(10) || chr(10) ||
       'bibliography' || chr(10) || chr(10) || doc_id || '-' || (doc_id + 7) AS text_linear,
       'attachment skipped (figure fig_' || doc_id || '): image cropping ' ||
       'needs the source PDF pixels (rasterization de-scoped)' AS fig_warning
FROM documents
"""


def q67_scanned_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scanned-document (PdfImageReader) gate — the OCR path end-to-end
    (pdf_image_reader.py:60-97 pipeline, core/ocr with the documented
    template-matcher engine stand-in): each doc is a 3-page scanned PDF
    whose pages are raster images with NO text layer. Page 1 is upright
    text, page 2 is rotated 180° (the orientation classifier must undo it
    and the reader must report the reference's rotated-angles warning),
    page 3 carries a body line plus a ruled 2×2 table recognized from
    PIXELS (table_recognizer.py:34-63) whose region leaves the text flow
    (__clean_image_from_table). pdf_with_text_layer="false" forces the
    scanned branch (parameter_utils). The pages and the raster-codec
    rotation are sources/pdf_fixture.q67_scan_pdf."""

    def row(doc_id: int, source: str, lang: str):
        from dedoc_spark.sources.pdf_fixture import Q67_PARAMS, q67_scan_pdf

        d = _extract(f"{doc_id}.pdf", q67_scan_pdf(doc_id, source, lang), Q67_PARAMS)
        return {
            "doc_id": doc_id,
            "n_lines": d["n_lines"],
            "n_tables": d["n_tables"],
            "text_extracted": d["text_extracted"],
            "rot_warning": next((w for w in d["warnings"] if w.startswith("rotated")), None),
            **_cells(d),
        }

    return _per_doc(
        spark, sf_dir, ["doc_id", "source", "lang"],
        "doc_id long, n_lines long, n_tables long, text_extracted string, "
        "rot_warning string, c00 string, c01 string, c10 string, c11 string",
        row,
    )


Q67_SQL = """
SELECT doc_id, CAST(3 AS BIGINT) AS n_lines, CAST(1 AS BIGINT) AS n_tables,
       chr(10) || 'Doc ' || doc_id || ' scan' || chr(10) || source || ' ' || lang ||
       chr(10) || 'page three body' || chr(10) || chr(10) AS text_extracted,
       'rotated page angles: [0, 180, 0]' AS rot_warning,
       'id' AS c00, CAST(doc_id AS VARCHAR) AS c01, source AS c10, lang AS c11
FROM documents
"""


def q68_real_font_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-FONT OCR gate (core/glyph_ocr behind the recognize_page
    seam): each doc is a 1-page scanned PDF whose raster is REAL
    anti-aliased proportional type (DejaVu Sans 40 px via the FreeType
    binding — not the procedural fixture font), three lines of id-derived
    4-digit groups. The auto engine's scanfont probe collapses on real
    type and routes to the glyph engine; digit recognition at this scale
    is exact, so the oracle reconstructs the text arithmetically.
    The one excluded value: a group of IDENTICAL '3's ("3333") carries
    no distinctive glyph for the word's script vote (З and 3 are
    pixel-twins in DejaVu), so both sides remap 3333 -> 3334. The page is
    sources/pdf_fixture.q68_scan_pdf."""

    def row(doc_id: int):
        from dedoc_spark.sources.pdf_fixture import Q68_PARAMS, q68_scan_pdf

        return _text_row(doc_id, f"{doc_id}.pdf", q68_scan_pdf(doc_id), params=Q68_PARAMS)

    return _per_doc(spark, sf_dir, ["doc_id"], _TEXT_SCHEMA, row)


Q68_SQL = """
WITH g AS (
    SELECT doc_id, r.row_i, i.col_i,
           lpad(CAST(
               CASE WHEN (doc_id * 7919 + r.row_i * 104729 + i.col_i * 15485863) % 10000 = 3333
                    THEN 3334
                    ELSE (doc_id * 7919 + r.row_i * 104729 + i.col_i * 15485863) % 10000
               END AS VARCHAR), 4, '0') AS grp
    FROM documents,
         (SELECT UNNEST([0, 1, 2]) AS row_i) r,
         (SELECT UNNEST([0, 1, 2]) AS col_i) i
),
l AS (
    SELECT doc_id, row_i, string_agg(grp, ' ' ORDER BY col_i) AS line
    FROM g GROUP BY doc_id, row_i
)
SELECT doc_id, CAST(3 AS BIGINT) AS n_lines,
       chr(10) || string_agg(line, chr(10) ORDER BY row_i) || chr(10) || chr(10)
           AS text_extracted
FROM l GROUP BY doc_id
"""


# ---------------------------------------------------------------------------

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_token_explode": q01_token_explode,
    "q02_line_types": q02_line_types,
    "q03_digit_mask": q03_digit_mask,
    "q04_boilerplate_votes": q04_boilerplate_votes,
    "q05_boilerplate_removal": q05_boilerplate_removal,
    "q06_exact_dedup": q06_exact_dedup,
    "q07_minhash": q07_minhash,
    "q08_lsh_pairs": q08_lsh_pairs,
    "q09_jaccard_pairs": q09_jaccard_pairs,
    "q10_text_profile": q10_text_profile,
    "q11_source_rollup": q11_source_rollup,
    "q12_ann_topk": q12_ann_topk,
    "q13_embedding_near_dup": q13_embedding_near_dup,
    "q14_events_rollup": q14_events_rollup,
    "q15_spacing_indent": q15_spacing_indent,
    "q16_paragraph_flags": q16_paragraph_flags,
    "q17_html_extract": q17_html_extract,
    "q18_txt_extract": q18_txt_extract,
    "q19_html_tables": q19_html_tables,
    "q20_simhash": q20_simhash,
    "q21_doc_formats": q21_doc_formats,
    "q22_pdf_extract": q22_pdf_extract,
    "q24_table_formats": q24_table_formats,
    "q25_pair_verify": q25_pair_verify,
    "q28_attachment_extract": q28_attachment_extract,
    "q29_dup_groups": q29_dup_groups,
    "q30_ivf_assign": q30_ivf_assign,
    "q31_doc_scalars": q31_doc_scalars,
    "q32_quality_flags": q32_quality_flags,
    "q33_c4_lines": q33_c4_lines,
    "q34_url_normalize": q34_url_normalize,
    "q38_domain_rollup": q38_domain_rollup,
    "q39_sentences": q39_sentences,
    "q40_pdf_layout": q40_pdf_layout,
    "q41_image_formats": q41_image_formats,
    "q42_multipage_tables": q42_multipage_tables,
    "q43_dup_spans": q43_dup_spans,
    "q44_winnow_fingerprints": q44_winnow_fingerprints,
    "q47_json_extract": q47_json_extract,
    "q48_mime_extract": q48_mime_extract,
    "q56_archive_members": q56_archive_members,
    "q57_pdf_ruled_tables": q57_pdf_ruled_tables,
    "q58_law_structure": q58_law_structure,
    "q59_tz_structure": q59_tz_structure,
    "q60_diploma_structure": q60_diploma_structure,
    "q61_span_removal": q61_span_removal,
    "q62_fintoc_structure": q62_fintoc_structure,
    "q63_media_ops": q63_media_ops,
    "q65_gost_frame": q65_gost_frame,
    "q66_tei_article": q66_tei_article,
    "q67_scanned_ocr": q67_scanned_ocr,
    "q68_real_font_ocr": q68_real_font_ocr,
}

ORACLES: Dict[str, str] = {
    "q01_token_explode": Q01_SQL,
    "q02_line_types": Q02_SQL,
    "q03_digit_mask": Q03_SQL,
    "q04_boilerplate_votes": Q04_SQL,
    "q05_boilerplate_removal": Q05_SQL,
    "q06_exact_dedup": Q06_SQL,
    "q07_minhash": Q07_SQL,
    "q08_lsh_pairs": Q08_SQL,
    "q09_jaccard_pairs": Q09_SQL,
    "q10_text_profile": Q10_SQL,
    "q11_source_rollup": Q11_SQL,
    "q12_ann_topk": Q12_SQL,
    "q13_embedding_near_dup": Q13_SQL,
    "q14_events_rollup": Q14_SQL,
    "q15_spacing_indent": Q15_SQL,
    "q16_paragraph_flags": Q16_SQL,
    "q17_html_extract": Q17_SQL,
    "q18_txt_extract": Q18_SQL,
    "q19_html_tables": Q19_SQL,
    "q20_simhash": Q20_SQL,
    "q21_doc_formats": Q21F_SQL,
    "q22_pdf_extract": Q22_SQL,
    "q24_table_formats": Q24F_SQL,
    "q25_pair_verify": Q25F_SQL,
    "q28_attachment_extract": Q28_SQL,
    "q29_dup_groups": Q29_SQL,
    "q30_ivf_assign": Q30_SQL,
    "q31_doc_scalars": Q31F_SQL,
    "q32_quality_flags": Q32F_SQL,
    "q33_c4_lines": Q33_SQL,
    "q34_url_normalize": Q34_SQL,
    "q38_domain_rollup": Q38_SQL,
    "q39_sentences": Q39_SQL,
    "q40_pdf_layout": Q40_SQL,
    "q41_image_formats": Q41F_SQL,
    "q42_multipage_tables": Q42_SQL,
    "q43_dup_spans": Q43_SQL,
    "q44_winnow_fingerprints": Q44_SQL,
    "q47_json_extract": Q47_SQL,
    "q48_mime_extract": Q48F_SQL,
    "q56_archive_members": Q56_SQL,
    "q57_pdf_ruled_tables": Q57_SQL,
    "q58_law_structure": Q58_SQL,
    "q59_tz_structure": Q59_SQL,
    "q60_diploma_structure": Q60_SQL,
    "q61_span_removal": Q61_SQL,
    "q62_fintoc_structure": Q62_SQL,
    "q63_media_ops": Q63F_SQL,
    "q65_gost_frame": Q65_SQL,
    "q66_tei_article": Q66_SQL,
    "q67_scanned_ocr": Q67_SQL,
    "q68_real_font_ocr": Q68_SQL,
}
