"""Every per-document gate of plans/driver_queries (the ones that run
through _per_doc) against its DuckDB oracle, on a small ``documents``
table with the columns and value shapes the gates read, compared with
the normalisation of scripts/check_oracles.py."""

from __future__ import annotations

import inspect
import random
import re

import duckdb
import pandas as pd
import pytest

from dedoc_spark.plans import driver_queries as dq
from scripts.check_oracles import norm_rows

N_DOCS = 20
_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "spark group query row data slow filter customer line batch value "
    "stream agg column vector a"
).split()


def _uses_per_doc(name: str, seen: set) -> bool:
    """Whether gate ``name`` (or a gate it unions or joins) runs through
    _per_doc."""
    seen.add(name)
    src = inspect.getsource(getattr(dq, name))
    if "_per_doc(" in src:
        return True
    return any(
        _uses_per_doc(ref, seen)
        for ref in set(re.findall(r"\bq\d\d_\w+", src)) - seen
        if callable(getattr(dq, ref, None))
    )


PER_DOC_GATES = [name for name in dq.QUERIES if _uses_per_doc(name, set())]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """documents.parquet in the gates' input shape: doc_id, text, lang
    (de/en/es/fr/zh), source (src0..src19), n_chars."""
    rng = random.Random(7)
    rows = []
    for i in range(N_DOCS):
        text = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(12, 60)))
        rows.append(
            {
                "doc_id": i * 37 + rng.randrange(37),
                "text": text,
                "lang": rng.choice(["de", "en", "es", "fr", "zh"]),
                "source": f"src{rng.randrange(20)}",
                "n_chars": len(text),
            }
        )
    path = tmp_path_factory.mktemp("sf")
    pd.DataFrame(rows).to_parquet(path / "documents.parquet", index=False)
    return str(path)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    yield con
    con.close()


def test_per_doc_gates_found():
    assert {"q21_doc_formats", "q63_media_ops", "q67_scanned_ocr", "q68_real_font_ocr"} <= set(
        PER_DOC_GATES
    )
    assert "q01_token_explode" not in PER_DOC_GATES


@pytest.mark.parametrize("name", PER_DOC_GATES)
def test_gate_matches_oracle(spark, sf_dir, duck, name):
    sdf = dq.QUERIES[name](spark, sf_dir)
    s_cols, s_rows = norm_rows([c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()])
    rel = duck.sql(dq.ORACLES[name])
    d_cols, d_rows = norm_rows([c.lower() for c in rel.columns], [tuple(r) for r in rel.fetchall()])
    assert s_cols == d_cols
    assert len(s_rows) >= N_DOCS
    assert s_rows == d_rows
