"""Programmatic minimal-OOXML docx generation for tests (FIXTURES.md §4):
zip + hand-built XML, no external tooling."""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from dedoc_spark.sources.office_fixture import zip_bytes

W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'

CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
</Types>"""

STYLES = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:styles {W_NS}>
<w:docDefaults><w:rPrDefault><w:rPr><w:sz w:val="20"/></w:rPr></w:rPrDefault></w:docDefaults>
<w:style w:styleId="Heading1"><w:name w:val="heading 1"/><w:rPr><w:b/><w:sz w:val="32"/></w:rPr></w:style>
<w:style w:styleId="Heading2"><w:name w:val="heading 2"/><w:rPr><w:b/><w:sz w:val="28"/></w:rPr></w:style>
<w:style w:styleId="Quote" w:basedOn="Heading2"><w:name w:val="Quote"/><w:basedOn w:val="Heading2"/><w:rPr><w:i/></w:rPr></w:style>
<w:style w:styleId="QuoteDeep" w:basedOn="Quote"><w:name w:val="Quote Deep"/><w:basedOn w:val="Quote"/><w:rPr><w:u w:val="single"/></w:rPr></w:style>
<w:style w:styleId="Emph" w:type="character"><w:name w:val="Emphasis"/><w:rPr><w:i/><w:sz w:val="24"/></w:rPr></w:style>
</w:styles>"""

FOOTNOTES = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:footnotes {W_NS}>
<w:footnote w:id="1"><w:p><w:r><w:t>first note</w:t></w:r><w:r><w:t>text</w:t></w:r></w:p></w:footnote>
<w:footnote w:id="2"><w:p><w:r><w:t>second note</w:t></w:r></w:p></w:footnote>
</w:footnotes>"""

NUMBERING = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:numbering {W_NS}>
<w:abstractNum w:abstractNumId="0">
<w:lvl w:ilvl="0"><w:start w:val="1"/><w:numFmt w:val="decimal"/><w:lvlText w:val="%1."/></w:lvl>
<w:lvl w:ilvl="1"><w:start w:val="1"/><w:numFmt w:val="decimal"/><w:lvlText w:val="%1.%2."/></w:lvl>
</w:abstractNum>
<w:abstractNum w:abstractNumId="1">
<w:lvl w:ilvl="0"><w:start w:val="1"/><w:numFmt w:val="lowerLetter"/><w:lvlText w:val="%1)"/></w:lvl>
</w:abstractNum>
<w:abstractNum w:abstractNumId="2">
<w:lvl w:ilvl="0"><w:start w:val="1"/><w:numFmt w:val="bullet"/><w:lvlText w:val="•"/></w:lvl>
</w:abstractNum>
<w:num w:numId="1"><w:abstractNumId w:val="0"/></w:num>
<w:num w:numId="2"><w:abstractNumId w:val="1"/></w:num>
<w:num w:numId="3"><w:abstractNumId w:val="2"/></w:num>
</w:numbering>"""


def paragraph(
    runs: Sequence[Tuple[str, str]],
    style: Optional[str] = None,
    num: Optional[Tuple[int, int]] = None,
    jc: Optional[str] = None,
    ind_left: Optional[int] = None,
    spacing: Optional[Tuple[int, int]] = None,
) -> str:
    """runs: list of (text, props) where props ⊆ 'biusXx' (bold italic
    underline strike sup sub); num: (numId, ilvl)."""
    ppr_parts: List[str] = []
    if style:
        ppr_parts.append(f'<w:pStyle w:val="{style}"/>')
    if num:
        ppr_parts.append(f'<w:numPr><w:ilvl w:val="{num[1]}"/><w:numId w:val="{num[0]}"/></w:numPr>')
    if jc:
        ppr_parts.append(f'<w:jc w:val="{jc}"/>')
    if ind_left is not None:
        ppr_parts.append(f'<w:ind w:left="{ind_left}"/>')
    if spacing:
        ppr_parts.append(f'<w:spacing w:before="{spacing[0]}" w:after="{spacing[1]}"/>')
    ppr = f"<w:pPr>{''.join(ppr_parts)}</w:pPr>" if ppr_parts else ""
    run_xml = []
    for text, props in runs:
        rpr_parts = []
        if "b" in props:
            rpr_parts.append("<w:b/>")
        if "i" in props:
            rpr_parts.append("<w:i/>")
        if "u" in props:
            rpr_parts.append('<w:u w:val="single"/>')
        if "s" in props:
            rpr_parts.append("<w:strike/>")
        if "X" in props:
            rpr_parts.append('<w:vertAlign w:val="superscript"/>')
        if "x" in props:
            rpr_parts.append('<w:vertAlign w:val="subscript"/>')
        rpr = f"<w:rPr>{''.join(rpr_parts)}</w:rPr>" if rpr_parts else ""
        run_xml.append(f'<w:r>{rpr}<w:t xml:space="preserve">{text}</w:t></w:r>')
    return f"<w:p>{ppr}{''.join(run_xml)}</w:p>"


def table(rows: Sequence[Sequence[Tuple[str, int, Optional[str]]]]) -> str:
    """rows of (text, gridSpan, vmerge) where vmerge ∈ None|'restart'|'continue'."""
    out = ["<w:tbl>"]
    for row in rows:
        out.append("<w:tr>")
        for text, span, vmerge in row:
            tcpr = []
            if span > 1:
                tcpr.append(f'<w:gridSpan w:val="{span}"/>')
            if vmerge:
                tcpr.append(f'<w:vMerge w:val="{vmerge}"/>' if vmerge == "restart" else "<w:vMerge/>")
            pr = f"<w:tcPr>{''.join(tcpr)}</w:tcPr>" if tcpr else ""
            out.append(f"<w:tc>{pr}<w:p><w:r><w:t>{text}</w:t></w:r></w:p></w:tc>")
        out.append("</w:tr>")
    out.append("</w:tbl>")
    return "".join(out)


def build_docx(body_xml: str, with_footnotes: bool = False) -> bytes:
    document = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {W_NS}><w:body>{body_xml}</w:body></w:document>"
    )
    members = [
        ("[Content_Types].xml", CONTENT_TYPES),
        ("word/document.xml", document),
        ("word/styles.xml", STYLES),
        ("word/numbering.xml", NUMBERING),
    ]
    if with_footnotes:
        members.append(("word/footnotes.xml", FOOTNOTES))
    return zip_bytes(members)


def example_docx() -> bytes:
    """Fixture mirroring the reference test document shape
    (test_format_docx_reader.py:32-60): title, chapter/article headings,
    numbered + lettered items, styled runs, a merged-cell table."""
    body = "".join(
        [
            paragraph([("Пример документа", "")], style="Heading1"),
            paragraph([("Глава 1", "")], style="Heading2"),
            paragraph([("Какие то ", ""), ("определения", "b")]),
            paragraph([("Статья 1", "")], style="Heading2"),
            paragraph([("Определим ", "b"), ("понятия", "i")], spacing=(120, 120)),
            paragraph([(" Поясним за непонятное", "")], num=(1, 0)),
            paragraph([(" Поясним за понятное", "")], num=(1, 1)),
            paragraph([(" снова непонятное", "")], num=(1, 1)),
            paragraph([(" подпункт", "")], num=(2, 0)),
            paragraph([("маркер", "")], num=(3, 0)),
            table(
                [
                    [("A", 1, None), ("B", 1, "restart"), ("C", 1, None)],
                    [("D", 1, None), ("", 1, "continue"), ("E", 1, None)],
                    [("F", 2, None), ("G", 1, None)],
                ]
            ),
        ]
    )
    return build_docx(body)
