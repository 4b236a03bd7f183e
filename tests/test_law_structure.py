"""Law-family structure extraction (core/law_structure.py).

Regexp expectations mirror the reference's own unit tests
(tests/unit_tests/test_doctype_law_text_features_regexps.py); the routing
sweep runs over the reference's REAL doctype corpus with the exact
expected types of test_doctype_law_dynamic_classifier.py."""

from dedoc_spark.core.document import extract_document
from dedoc_spark.core.law_structure import (
    classify_law_type,
    extract_law_structure,
    fix_labels,
    foiv_structure_unit,
    law_structure_unit,
    named_regexp,
    predict_law_labels,
    preprocess_spaced_words,
    regexp_application_begin,
    roman_regexp,
    route_law_extractor,
)
from dedoc_spark.core.model import HierarchyLevel, Line
from dedoc_spark.core.txt_extract import extract_txt_lines


def test_roman_regexp_reference_expectations():
    assert roman_regexp.fullmatch("    XI. ")
    assert roman_regexp.fullmatch("      ") is None
    assert roman_regexp.fullmatch("    XI.") is None
    assert roman_regexp.fullmatch("\tIII. ")


def test_application_begin_reference_expectations():
    assert regexp_application_begin.fullmatch("приложение")
    assert regexp_application_begin.fullmatch("Приложение")
    assert regexp_application_begin.fullmatch("утверждены")
    assert regexp_application_begin.fullmatch("приложение к приказу")
    assert regexp_application_begin.fullmatch("приложение к постановлению")
    assert regexp_application_begin.fullmatch("постановление") is None
    assert regexp_application_begin.fullmatch("к приказу") is None


def test_named_regexp_chapter_reference_expectations():
    lines = [
        "глава v. международное сотрудничество российской\n",
        "глава vi. ответственность за нарушение\n",
        "глава 17. вступление в силу настоящего федерального закона\n",
        "глава 1. общие положения\n",
        "глава 10. заключительные и переходные положения\n",
    ]
    for line in lines:
        assert named_regexp.match(line), line


def test_law_structure_unit_hierarchy():
    cases = [
        ("Часть первая", "part", 3),
        ("Раздел II. Права", "section", 4),
        ("IV. Общие положения", "subsection", 5),
        ("Глава 2. Принципы", "chapter", 6),
        ("§ 3. Нормы", "paragraph", 7),
        ("Статья 10. Порядок", "article", 8),
        ("1) первый пункт", "item", 10),
        ("а) подпункт", "subitem", 11),
        ("2. часть статьи", "articlePart", 9),
    ]
    for text, line_type, depth in cases:
        hl, _ = law_structure_unit(text, 2, None)
        assert hl.line_type == line_type, text
        assert hl.level_1 == depth, text
    # unmatched falls back to previous level, else raw_text
    prev = HierarchyLevel(5, 0, True, "subsection")
    hl, keep = law_structure_unit("просто текст", 2, prev)
    assert hl is prev and keep is prev
    hl, keep = law_structure_unit("просто текст", 2, None)
    assert hl.line_type == HierarchyLevel.raw_text and keep is None


def test_foiv_structure_unit_dotted_depth():
    hl, _ = foiv_structure_unit("2.1. требования", 2, None)
    assert hl.line_type == "item" and hl.level_1 == 10 and hl.level_2 == 2
    hl, _ = foiv_structure_unit("Глава 1. Общие", 2, None)
    assert hl.line_type == "chapter"
    hl, _ = foiv_structure_unit("а) форма", 2, None)
    assert hl.line_type == "subitem"


def test_roman_prefix_ocr_normalization():
    # "П." is OCR noise for "II." — subsection prefix normalized in place
    line = Line(line="П. Общие положения ")
    hl, _ = law_structure_unit(line.line, 2, None)
    assert hl.line_type == "subsection"
    from dedoc_spark.core.law_structure import _postprocess_roman

    _postprocess_roman(hl, line)
    assert line.line.startswith("II. ")


def test_fix_labels_document_model():
    labels = ["raw_text", "structure_unit", "raw_text", "cellar", "application", "raw_text"]
    fixed = fix_labels(labels)
    # pre-body → title; body keeps unit; cellar/application zones survive
    assert fixed == ["title", "structure_unit", "raw_text", "cellar", "application", "raw_text"]
    # footer survives anywhere
    assert fix_labels(["footer", "structure_unit"]) == ["footer", "structure_unit"]


def test_preprocess_spaced_words():
    lines = [Line(line="П Р И К А З"), Line(line="обычный текст")]
    out = preprocess_spaced_words(lines)
    assert out[0].line == "ПРИКАЗ\n"
    assert out[1].line == "обычный текст"


LAW_TEXT = "\n".join(
    [
        "ФЕДЕРАЛЬНЫЙ ЗАКОН",
        "О персональных данных",
        "Статья 1. Сфера действия",
        "1) первый пункт закона",
        "а) первый подпункт",
        "просто продолжение текста",
        "Президент Российской Федерации",
        "Приложение",
        "Статья 2. Приложенные нормы",
    ]
)


def test_extract_law_structure_end_to_end():
    lines = extract_txt_lines(LAW_TEXT)
    out = extract_law_structure(lines, hl_type="law")
    by_type = {}
    for ln in out:
        by_type.setdefault(ln.hl.line_type, []).append(ln.line)
    # title zone → root lines
    assert any("ФЕДЕРАЛЬНЫЙ ЗАКОН" in t for t in by_type.get("root", []))
    # body: article + the synthetic body node
    assert "body" in by_type
    assert any(t.startswith("Статья 1") for t in by_type.get("article", []))
    # prefix-split: the item prefix becomes its own line, rest is raw_text
    assert any(t.strip() == "1)" for t in by_type.get("item", []))
    assert any("первый пункт закона" in t for t in by_type.get("raw_text", []))
    assert any(t.strip() == "а)" for t in by_type.get("subitem", []))
    # cellar + application zones
    assert any("Президент" in t for t in by_type.get("cellar", []))
    assert any(t.startswith("Приложение") for t in by_type.get("application", []))
    # the article AFTER the application begin stays in the application zone
    assert any(t.startswith("Статья 2") for t in by_type.get("article", []))


def test_predict_labels():
    lines = [Line(line=t) for t in ["шапка", "Статья 1. Предмет", "1) пункт", "Приложение", "Президент РФ"]]
    assert predict_law_labels(lines) == [
        "raw_text", "structure_unit", "structure_unit", "application", "cellar",
    ]


REFERENCE_DOCTYPES = {
    # file → expected extractor family, exactly the expectations of
    # test_doctype_law_dynamic_classifier.py (foiv_law ≡ foiv here)
    "закон.txt": "law",
    "инструкция.txt": "foiv",
    "кодекс.txt": "law",
    "определение.txt": "law",
    "постановление.txt": "law",
    "приказ.txt": "foiv",
    "распоряжение.txt": "law",
    "указ.txt": "law",
    "федеральный_закон.txt": "law",
}

def test_routing_on_reference_doctype_corpus(reference_file):
    for name, expected in REFERENCE_DOCTYPES.items():
        raw = reference_file(f"laws/doctypes/{name}").read_bytes()
        try:
            text = raw.decode("utf-8")
        except UnicodeDecodeError:
            text = raw.decode("cp1251", errors="replace")
        assert route_law_extractor(text.splitlines()) == expected, name


def test_classify_spaced_order():
    # whitespace-spread template: "П Р И К А З" still matches приказ
    assert classify_law_type(["П Р И К А З", "№ 5"]) == "приказ"
    # OCR з→3 hot-fix
    assert classify_law_type(["ПРИКА3 № 7"]) == "приказ"


def test_document_type_param_wiring():
    d = extract_document("law.txt", LAW_TEXT.encode(), None, params={"document_type": "law"})
    assert d["error"] is None
    import json

    types = {ln["hl"]["line_type"] for ln in json.loads(d["lines_json"])}
    assert {"root", "body", "article", "item", "cellar", "application"} <= types
    # same bytes, default params → default structure (no law types)
    d2 = extract_document("law.txt", LAW_TEXT.encode(), None)
    types2 = {ln["hl"]["line_type"] for ln in json.loads(d2["lines_json"])}
    assert "article" not in types2


def test_article_document_type_passthrough():
    """ArticleStructureExtractor contract (article_structure_extractor.py:
    19-34): reader tag levels pass through with NO regexp postprocessing,
    unknown tags become raw_text."""
    import json

    d = extract_document(
        "a.txt", "1) would normally split\nplain text".encode(), None,
        params={"document_type": "article"},
    )
    lines = json.loads(d["lines_json"])
    # no prefix-split happened and everything is raw_text (txt reader
    # assigns unknown tags)
    assert [ln["line"] for ln in lines] == ["1) would normally split\n", "plain text"]
    assert all(ln["hl"]["line_type"] == "raw_text" for ln in lines)
