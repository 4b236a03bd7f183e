"""End-to-end per-document extraction: reader → structure → tree → text.

These are the pure functions that the Spark extraction stage
(operators/pipeline.py) maps over Arrow batches. They are also called
directly in unit tests — same code path, same bytes out.

Lifecycle mirrors DedocManager.parse (dedoc_manager.py:100-126): read →
structure extraction → tree construction; metadata comes from the input
table columns instead of os.stat (SURVEY.md §2.12).
"""

from __future__ import annotations

import hashlib
import importlib
import json
from functools import partial
from typing import Callable, Dict, List, Optional, Sequence

from dedoc_spark.core.html_extract import HtmlExtractor
from dedoc_spark.core.limits import BoundedZip, ResourceLimit
from dedoc_spark.core.model import Line, lines_json, param_flag, select_pages, tables_json
from dedoc_spark.core.structure import assign_hierarchy_levels
from dedoc_spark.core.tree import construct_tree, flatten_tree, tree_to_text
from dedoc_spark.core.txt_extract import extract_txt_lines

_HTML_EXTRACTOR = HtmlExtractor()


def url_hash(url: str) -> str:
    """Content-derived per-document seed replacing the reference's
    file-content hash in uid chains (SURVEY.md §7.0)."""
    return hashlib.md5(url.encode()).hexdigest()


def _finalize(url: str, lines: List[Line], tables, warnings, params: Optional[Dict] = None) -> Dict:
    """Structure extraction + construction with the reference's parameter
    surface (api_args.py:7-54 subset): ``patterns`` replaces the default
    chain, ``structure_type`` picks tree|linear."""
    params = params or {}
    patterns = params.get("patterns")
    document_type = params.get("document_type")
    # use_trained_labelers (engine addition, documented in COVERAGE §2.10):
    # swap the domain extractors' regex label stand-ins for the trained
    # open models (operators/line_labeler) through the labeler hook; the
    # default stays the regex stand-in so output bytes are unchanged
    labeler = None
    if param_flag(params, "use_trained_labelers") and document_type in ("law", "foiv_law", "tz", "diploma"):
        from dedoc_spark.operators.line_labeler import get_labeler, predict_labels_with_model

        model = get_labeler("law" if document_type == "foiv_law" else document_type)
        labeler = lambda lns: predict_labels_with_model(model, lns)  # noqa: E731
    if document_type in ("law", "foiv_law"):
        # law-family structure extraction (classifying_law_structure_
        # extractor routing collapsed to the explicit parameter; "law"
        # re-routes to foiv when the document hat names a foiv type)
        from dedoc_spark.core.law_structure import extract_law_structure, route_law_extractor

        hl_type = "foiv" if document_type == "foiv_law" else route_law_extractor(
            [ln.line for ln in lines]
        )
        lines = extract_law_structure(lines, hl_type=hl_type, labeler=labeler)
    elif document_type == "tz":
        from dedoc_spark.core.tz_diploma import extract_tz_structure

        lines = extract_tz_structure(lines, labeler=labeler)
    elif document_type == "diploma":
        from dedoc_spark.core.tz_diploma import extract_diploma_structure

        lines = extract_diploma_structure(lines, labeler=labeler)
    elif document_type == "fintoc":
        from dedoc_spark.core.fintoc import extract_fintoc_structure

        lines = extract_fintoc_structure(lines, params)
    elif document_type == "article":
        # ArticleStructureExtractor (article_structure_extractor.py:19-34):
        # reader-assigned tag levels pass through untouched, NO
        # regexp postprocessing; unknown tags become raw_text
        from dedoc_spark.core.model import HierarchyLevel as _HL

        for ln in lines:
            if ln.tag_hl is None or ln.tag_hl.is_unknown():
                ln.tag_hl = _HL.create_raw_text()
                ln.hl = _HL.create_raw_text()
            else:
                ln.hl = ln.tag_hl
    elif patterns:
        from dedoc_spark.core.constructors import assign_levels_with_patterns

        assign_levels_with_patterns(lines, patterns)
    else:
        assign_hierarchy_levels(lines)
    if params.get("structure_type") == "linear":
        from dedoc_spark.core.constructors import construct_linear

        tree = construct_linear(lines)
    else:
        tree = construct_tree(lines)
    text_extracted = tree_to_text(tree)
    tree_json, nodes_json = flatten_tree(tree)
    # UnstructuredDocument.get_text() semantics (unstructured_document.py:44-45)
    text_linear = "\n".join(line.line for line in lines)
    out = {
        "url": url,
        "text_extracted": text_extracted,
        "text_linear": text_linear,
        "n_lines": len(lines),
        "n_tables": len(tables),
        "lines_json": lines_json(lines),
        "tree_json": tree_json,
        "nodes_json": nodes_json,
        "tables_json": tables_json(tables),
        "warnings": list(warnings),
        "error": None,
    }
    # return_format (dedoc_api.py:75-105): response REPRESENTATION, not a
    # parse change — opt-in, so the extra "rendered" key appears only when
    # the parameter is set (the Spark stage's fixed schema never sets it)
    return_format = str(params.get("return_format", "json")).lower()
    if return_format != "json":
        if return_format == "html":
            from dedoc_spark.core.json2html import json2html

            out["rendered"] = json2html(tree, list(tables))
        elif return_format == "plain_text":
            out["rendered"] = text_extracted  # json2txt == tree_to_text
        elif return_format == "tree":
            from dedoc_spark.core.json2html import json2tree

            out["rendered"] = json2tree(tree)
        elif return_format == "collapsed_tree":
            from dedoc_spark.core.json2html import json2collapsed_tree

            out["rendered"] = json2collapsed_tree(tree)
        elif return_format in ("ujson", "pretty_json"):
            from dedoc_spark.core.api_schema import to_parsed_document

            indent = 2 if return_format == "pretty_json" else None
            out["rendered"] = json.dumps(
                to_parsed_document(out), ensure_ascii=False, indent=indent
            )
    return out


def _on(module: str, name: str) -> Callable:
    """``dedoc_spark.core.<module>.<name>``, imported and looked up when
    called: a worker loads only the reader stacks its rows need, and a
    wrapper installed on the module attribute is the one that runs."""

    def call(*args):
        return getattr(importlib.import_module(f"dedoc_spark.core.{module}"), name)(*args)

    return call


def _lines_tables(module: str, name: str) -> Callable:
    """Reader ``fn(payload, seed) -> (lines, tables, warnings)``."""
    fn = _on(module, name)
    return lambda url, payload, params: fn(payload, url_hash(url))


def _tables(module: str, name: str) -> Callable:
    """Spreadsheet reader ``fn(payload, seed) -> (tables, warnings)``."""
    fn = _on(module, name)

    def parse(url, payload, params):
        tables, warnings = fn(payload, url_hash(url))
        return [], tables, warnings

    return parse


def _texts(module: str, name: str) -> Callable:
    """Native text layer ``fn(payload) -> (texts, warnings)``, read as one
    plain-text document."""
    fn = _on(module, name)

    def parse(url, payload, params):
        texts, warnings = fn(payload)
        return extract_txt_lines("\n".join(texts)), [], warnings

    return parse


def _utf8(parse: Callable) -> Callable:
    """Reader over the payload decoded as UTF-8, bad bytes replaced."""
    return lambda url, payload, params: parse(url, payload.decode("utf-8", errors="replace"), params)


def _parse_html(url: str, payload: bytes | str, params: Dict):
    return _HTML_EXTRACTOR.extract(
        payload, url_hash(url), handle_invisible_table=param_flag(params, "handle_invisible_table")
    )


def _parse_json(url: str, payload: str, params: Dict):
    from dedoc_spark.core.formats import extract_json_lines, json_html_field_attachments

    html_fields = params.get("html_fields")
    lines = extract_json_lines(payload, url_hash(url), html_fields=html_fields)
    # excluded fields become html attachments (surface through the
    # attachment channel, list_attachments with the same params)
    attached = json_html_field_attachments(payload, html_fields) if html_fields else []
    return lines, [], [f"attachment: {name}" for name, _ in attached]


def _parse_csv(url: str, payload: str, params: Dict, is_tsv: bool = False):
    from dedoc_spark.core.formats import extract_csv_table

    # explicit delimiter parameter wins (csv_reader.py:31-33)
    tables, warnings = extract_csv_table(
        payload, url_hash(url), delimiter=params.get("delimiter"), is_tsv=is_tsv
    )
    return [], tables, warnings


def _parse_txt(url: str, payload: bytes, params: Dict):
    from dedoc_spark.core.formats import decode_text_payload

    return extract_txt_lines(decode_text_payload(payload, params.get("encoding"))), [], []


def _parse_txt_gz(url: str, payload: bytes, params: Dict):
    # .txt.gz reads as ONE text document (raw_text_reader.py:34-50)
    import gzip

    return _parse_txt(url, gzip.decompress(payload), params)


def _parse_note(url: str, payload: bytes, params: Dict):
    # NoteReader (note_reader.py:15-37): one line from the pickled dict's
    # "content" — restricted unpickler, see formats.py
    from dedoc_spark.core.formats import extract_note_content

    return [Line(line=extract_note_content(payload))], [], []


# format -> parse(url, payload, params) -> (lines, tables, warnings): the one
# reader list behind both the first read and the content re-sniff
# (reader_composition.py:21-46, dedoc_manager.py:145-167). Every parse
# finalizes with the request's params. Adding a format = one entry here.
_READERS: Dict[str, Callable] = {
    "html": _parse_html,
    "json": _utf8(_parse_json),
    "csv": _utf8(_parse_csv),
    "tsv": _utf8(partial(_parse_csv, is_tsv=True)),
    "email": _lines_tables("formats", "extract_email"),
    "mhtml": _lines_tables("formats", "extract_mhtml"),
    "txt": _parse_txt,
    "txt_gz": _parse_txt_gz,
    "note": _parse_note,
    "docx": _lines_tables("docx_extract", "extract_docx"),
    "xlsx": _tables("office_extract", "extract_xlsx_tables"),
    "xls": _tables("xls_extract", "extract_xls_tables"),
    "pptx": _lines_tables("office_extract", "extract_pptx"),
    "odt": _lines_tables("odf_extract", "extract_odt"),
    "ods": _tables("odf_extract", "extract_ods"),
    "odp": _lines_tables("odf_extract", "extract_odp"),
    # native best-effort text layers (core/rtf_extract.py, doc_extract.py)
    "rtf": _texts("rtf_extract", "extract_rtf_text"),
    "doc": _texts("doc_extract", "extract_doc_text"),
    "ppt": _texts("doc_extract", "extract_ppt_texts"),
}
# the reference converts these through soffice (absent here): a payload the
# native parser cannot read gets one content re-sniff, then the typed
# needs_conversion:<fmt> row
_NATIVE_BEST_EFFORT = frozenset({"rtf", "odt", "ods", "odp", "doc", "ppt"})
# formats a content re-sniff may land on
_RESNIFF_TARGETS = frozenset({"docx", "xlsx", "pptx", "xls", "pdf", "odt", "ods", "odp", "rtf"})


def extract_html_document(url: str, html: bytes | str, params: Optional[Dict] = None) -> Dict:
    """Full HTML pipeline for one document."""
    return _finalize(url, *_parse_html(url, html, params or {}), params)


def extract_txt_document(url: str, text: str, params: Optional[Dict] = None) -> Dict:
    """Full plain-text pipeline for one document."""
    lines = extract_txt_lines(text)
    return _finalize(url, lines, [], [], params)


def extract_json_document(url: str, payload: str, params: Optional[Dict] = None) -> Dict:
    return _finalize(url, *_parse_json(url, payload, params or {}), params)


def extract_scanned_image_document(url: str, payload: bytes, params: Optional[Dict] = None) -> Dict:
    """PdfImageReader route for standalone images (pdf_image_reader.py:41-47
    registers image_like_format): decode pixels (core/image_decode) and run
    the scanned-page pipeline (core/ocr.process_scanned_page — orientation,
    binarization, table recognition, OCR with a documented engine stand-in,
    metadata annotations). Reached via pdf_with_text_layer="false" — the
    reference value that forces the OCR reader (parameter_utils); documented
    deviation: the reference ALWAYS OCRs standalone images, here the route
    is opt-in so the default multimodal-channel bytes stay stable."""
    from dedoc_spark.core.image_decode import decode_image

    # multi-page fax TIFFs: every IFD page is a scanned page (the
    # reference's PIL conversion walks frames the same way)
    if payload[:4] in (b"II*\x00", b"MM\x00*", b"II+\x00", b"MM\x00+"):
        from dedoc_spark.core.tiff_decode import decode_tiff_pages

        rasters = decode_tiff_pages(payload)
        if not rasters:
            raise ValueError("tiff: no decodable pages")
    else:
        rasters = [decode_image(payload)[2]]
    return _ocr_document(url, [[rgb] for rgb in rasters], params or {})


def _extract_scanned_pdf(
    url: str,
    page_images: List,
    params: Dict,
    trailing_warnings: Sequence[str] = (),
) -> Dict:
    """PdfImageReader branch for PDFs: forced by pdf_with_text_layer=
    "false", or reached from auto mode when the textual layer is
    incorrect (pdf_auto_reader routing table / parameter_utils).
    ``page_images`` are the embedded page rasters of the whole document
    (core/ocr.extract_pdf_page_images — the pdf2image analogue for
    scanned pages); each runs the scanned-page pipeline, and ``pages``
    prunes like the text-layer path (pdf_base_reader.py:108-128).
    ``trailing_warnings`` mirror pdf_auto_reader.py:67-68
    ``result.warnings.extend(warnings)`` — the routing warning lands
    AFTER the reader's own."""
    page_images, warnings = select_pages(page_images, params.get("pages"))
    return _ocr_document(url, page_images, params, warnings, trailing_warnings)


def _ocr_document(
    url: str,
    pages: Sequence[Sequence],
    params: Dict,
    warnings: Sequence[str] = (),
    trailing_warnings: Sequence[str] = (),
) -> Dict:
    """Scanned-page pipeline over ``pages`` (each a list of rasters): one
    core/ocr.process_scanned_page per raster, then page-adjacent table
    continuations merge (multipage_table_extractor, like the txt-layer
    path in pdf_extract._extract_pdf_full) into schema Tables. Warnings
    keep the order ``warnings``, page rotation, ``trailing_warnings``."""
    from dedoc_spark.core.ocr import process_scanned_page

    seed = url_hash(url)
    lines: List[Line] = []
    located = []
    angles: List[float] = []
    for page_id, rasters in enumerate(pages):
        for raster in rasters:
            pl, pt, angle = process_scanned_page(raster, page_id, seed, params)
            lines.extend(pl)
            located.extend(pt)
            angles.append(angle)
    warnings = list(warnings)
    if any(angles):
        joined = ", ".join(f"{a:g}" for a in angles)
        warnings.append(f"rotated page angles: [{joined}]")
    warnings.extend(trailing_warnings)
    tables = []
    if located:
        from dedoc_spark.core.model import Table
        from dedoc_spark.core.multipage import extract_multipage_tables

        tables = [
            Table(cells=t.cells, page_id=t.location.page_number, uid=t.uid)
            for t in extract_multipage_tables(located, lines)
        ]
    return _finalize(url, lines, tables, warnings, params)


def extract_pdf_document(url: str, payload: bytes, params: Optional[Dict] = None) -> Dict:
    """PdfAutoReader routing (pdf_auto_reader.py:49-70): in auto mode the
    txt-layer detector classifies the extracted layer and records the
    reference's routing warnings; pdf_with_text_layer="false" forces the
    scanned (PdfImageReader) branch over the embedded page rasters. In
    auto mode an incorrect layer re-reads through OCR when the pages
    carry embedded rasters, and otherwise keeps the extracted lines plus
    the routing warning. The payload is parsed once
    (core/pdf_objects.parse_pdf), for every route."""
    from dedoc_spark.core.pdf_extract import (
        detect_txt_layer,
        extract_pdf_lines,
        extract_pdf_lines_tables,
    )
    from dedoc_spark.core.pdf_objects import parse_pdf

    params = params or {}
    # one parse serves the lock check and both readers; documents with the
    # EMPTY user password decrypt transparently inside it (core/pdf_crypt),
    # and a real password is the reference's pdfminer exception path
    # (PDFPasswordIncorrect -> task error), so surface the typed row
    pdf = parse_pdf(payload)
    if pdf.locked:
        return _error_row(url, "needs_password:pdf")
    if str(params.get("pdf_with_text_layer", "auto")).lower() == "false":
        from dedoc_spark.core.ocr import extract_pdf_page_images

        return _extract_scanned_pdf(url, extract_pdf_page_images(pdf), params)
    tables = []
    need_para = param_flag(params, "need_paragraph_classification")
    # is_one_column_document (parameter_utils; reference DEFAULT "auto",
    # api_args.py:33): "false" → two-column reading order, "true" →
    # single-column, "auto"/default → per-page x-histogram detection
    # (pdf_extract._looks_two_column) that falls back to single-column on
    # ambiguity, so one-column documents keep their previous bytes
    raw_one_col = str(params.get("is_one_column_document", "auto")).lower()
    layout = dict(
        pages_range=params.get("pages"),
        # paragraph classification needs layout bboxes — force them on in
        # both branches, or the flag silently no-ops
        with_layout=param_flag(params, "with_layout") or need_para,
        need_paragraph_classification=need_para,
        need_header_footer_analysis=param_flag(params, "need_header_footer_analysis", True),
        one_column=None if raw_one_col in ("auto", "none") else raw_one_col != "false",
        need_gost_frame_analysis=param_flag(params, "need_gost_frame_analysis"),
    )
    if param_flag(params, "need_pdf_table_analysis"):
        # pdf_txtlayer_reader.py:49-73 table path: ruled tables detected
        # from the page's painted line art, captured lines leave the flow
        lines, tables, warnings = extract_pdf_lines_tables(
            pdf, url_hash(url), table_type=str(params.get("table_type", "")), **layout
        )
    else:
        lines, warnings = extract_pdf_lines(pdf, url_hash(url), **layout)
    if params.get("pdf_with_text_layer", "auto") in ("auto", "auto_tabby"):
        fast = param_flag(params, "fast_textual_layer_detection")
        is_correct, first_correct = detect_txt_layer(lines, fast=fast)
        if is_correct:
            warnings.append("Assume document has a correct textual layer")
            if not first_correct:
                warnings.append("Assume the first page hasn't a textual layer")
        else:
            # __handle_incorrect_text_layer (pdf_auto_reader.py:70-76):
            # the document re-reads through pdf_image_reader. Rasterizing
            # a VECTOR page needs a renderer (de-scoped), so the re-read
            # happens exactly when the pages carry embedded rasters — the
            # scanned-PDF shape the OCR branch exists for; garbage
            # text-layer PDFs without rasters keep their extracted lines
            # (documented deviation, test_auto_reader_routing_warnings).
            # The raster test covers the whole document, not the pages slice
            from dedoc_spark.core.ocr import extract_pdf_page_images

            page_images = extract_pdf_page_images(pdf)
            if any(page_images):
                return _extract_scanned_pdf(
                    url,
                    page_images,
                    params,
                    trailing_warnings=["Assume document has incorrect textual layer"],
                )
            warnings.append("Assume document has incorrect textual layer")
    return _finalize(url, lines, tables, warnings, params)


def _error_row(url: str, error: str, warnings: Optional[List[str]] = None) -> Dict:
    """Typed error-channel row: same schema as a successful extraction, so
    every input url yields exactly one output row."""
    return {
        "url": url,
        "text_extracted": "",
        "text_linear": "",
        "n_lines": 0,
        "n_tables": 0,
        "lines_json": "[]",
        "tree_json": "{}",
        "nodes_json": "[]",
        "tables_json": "[]",
        "warnings": list(warnings or []),
        "error": error,
    }


def _content_resniff(url: str, html: bytes, failed_fmt: Optional[str], params: Dict) -> Optional[Dict]:
    """The reference's mime re-sniff retry (dedoc_manager.py:145-167):
    when extension-routed parsing fails, re-detect by CONTENT ONLY and try
    the sniffed reader once (catches misnamed files, e.g. an ODT shipped
    as .doc). Returns None when no different parseable format is found."""
    from dedoc_spark.core.formats import detect_format

    fmt = detect_format("resniff", html, None)  # no extension → pure magic
    if fmt == failed_fmt or fmt not in _RESNIFF_TARGETS:
        return None
    try:
        if fmt == "pdf":
            out = extract_pdf_document(url, html, params)
        else:
            out = _finalize(url, *_READERS[fmt](url, html, params), params)
    except ResourceLimit as e:  # the sniffed reader passed a budget: its row
        return _error_row(url, str(e))
    except Exception:
        return None
    out["warnings"] = [f"format re-sniffed by content: {fmt}"] + list(out["warnings"])
    return out


def extract_document(
    url: str,
    html: Optional[bytes],
    text: Optional[str],
    params: Optional[Dict] = None,
) -> Dict:
    """Format dispatch for one input-table row (ReaderComposition
    first-match semantics, reader_composition.py:21-46: extension first,
    then content magic — see formats.detect_format). Per-row failures are
    captured in the ``error`` channel instead of failing the job
    (dedoc_manager.py:73-81 DedocError semantics)."""
    from dedoc_spark.core.formats import detect_format

    fmt: Optional[str] = None
    try:
        params = params or {}
        fmt = detect_format(url, html, text)
        if not html:
            return extract_txt_document(url, text or "", params)
        # ArticleReader's TEI analysis half (article_reader.py:64-80):
        # the GROBID HTTP call is an external service (de-scoped); a
        # user-supplied GROBID response routes here and yields the
        # reference's article structure. Routing is the DEDICATED
        # extension (*.tei/*.tei.xml — a new reader, like .note.pickle)
        # or the document_type="article" opt-in + a <TEI> root sniff;
        # a <TEI> payload under another url/params keeps its previous
        # reader (default bytes stay stable per CLAUDE.md).
        if url.lower().endswith((".tei", ".tei.xml")) or params.get("document_type") == "article":
            from dedoc_spark.core.tei_extract import looks_like_tei

            if looks_like_tei(url, html):
                from dedoc_spark.core.tei_extract import extract_tei_lines_tables

                lines, tei_tables, warnings = extract_tei_lines_tables(
                    html, url_hash(url), with_attachments=param_flag(params, "with_attachments")
                )
                params = dict(params)
                params.setdefault("document_type", "article")
                return _finalize(url, lines, tei_tables, warnings, params)
        if fmt == "pdf":
            return extract_pdf_document(url, html, params)
        if fmt == "zip":
            # archives are exploded into member rows by
            # operators/archives.extract_with_archives; a bare per-row call
            # reports the members instead of parsing zip bytes as markup;
            # a zip's names come from its central directory, with no
            # member read (the other archive kinds must be inflated)
            from dedoc_spark.core.formats import list_archive_members

            try:
                if html[:4] == b"PK\x03\x04":
                    with BoundedZip(html) as zf:
                        names = [i.filename for i in zf.infolist()[:100] if not i.is_dir()]
                else:
                    names = [n for n, _ in list_archive_members(html, max_members=100)]
            except ValueError as e:
                # rar compressed members raise the typed needs_unpacker
                # message (core/rar_extract.py) — surface it as the row's
                # error, never as an exception out of extract_document
                return _error_row(url, str(e))
            return _error_row(
                url,
                "needs_explosion:zip (use operators.archives.extract_with_archives)",
                warnings=[f"archive member: {n}" for n in names],
            )
        if fmt.startswith(("needs_conversion:", "needs_unpacker:")):
            # reference converts these via soffice (converters/concrete_converters/
            # docx_converter.py:15-28); soffice is absent here, so emit a typed
            # error row rather than html-fallback garbage lines
            return _error_row(url, fmt)
        if fmt.startswith("media:"):
            # pdf_with_text_layer="false" forces the PdfImageReader branch
            # for image formats too (it registers image_like_format,
            # pdf_image_reader.py:41-47) — scanned-page OCR over the
            # decoded pixels; decode failures keep the typed media row
            if fmt.startswith("media:image/") and (
                str(params.get("pdf_with_text_layer", "")).lower() == "false"
            ):
                try:
                    return extract_scanned_image_document(url, html, params)
                except Exception:
                    pass
            # binary media route to the multimodal decode channel
            # (operators/multimodal.py); the per-row reader emits a typed row.
            # EXIF metadata is real (ImageMetadataExtractor field set) even
            # though pixel decode is stubbed.
            warnings_list = [f"media bytes: {len(html)}"]
            if fmt in ("media:image/jpeg", "media:image/tiff"):
                from dedoc_spark.core.metadata import extract_image_metadata

                warnings_list.extend(
                    f"exif.{k}={v}" for k, v in sorted(extract_image_metadata(html).items())
                )
            return _error_row(url, f"needs_decoder:{fmt[6:]}", warnings=warnings_list)
        # unknown markup-ish bytes: html fallback (web default)
        return _finalize(url, *_READERS.get(fmt, _parse_html)(url, html, params), params)
    except ResourceLimit as e:  # past a fixed budget: the same row on every path
        return _error_row(url, str(e))
    except Exception as e:  # error channel, never job failure
        retry = _content_resniff(url, html, fmt, params) if html else None
        if retry is not None:
            return retry
        if fmt in _NATIVE_BEST_EFFORT:
            return _error_row(url, f"needs_conversion:{fmt}", warnings=[f"native parse failed: {e}"])
        return _error_row(url, f"{type(e).__name__}: {e}")
