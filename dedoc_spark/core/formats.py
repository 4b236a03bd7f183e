"""Additional format readers: JSON, CSV/TSV, email (.eml), MHTML, ZIP
archives, and the format-dispatch predicate.

References:
  - JsonReader      dedoc/readers/json_reader/json_reader.py:22-131
    (explicit-stack DFS; dict keys → "key" lines in sorted order, list
    items → "list_item", scalars → raw_text; HL = (depth, 1, False))
  - CSVReader       dedoc/readers/csv_reader/csv_reader.py:17-58
    (delimiter by extension/param; one Table of stringified cells)
  - EmailReader     dedoc/readers/email_reader/email_reader.py:34-220
    (subject line gets HL (0,0,False,"root") → becomes the tree root
    text; header fields → typed lines; text/html parts via the HTML core
    with "\\n" appended per line; text/plain fallback when no html part)
  - MhtmlReader     dedoc/readers/mhtml_reader/mhtml_reader.py:33-124
    (multipart unpack → html parts through the HTML core; other parts
    become attachments)
  - ArchiveReader   dedoc/readers/archive_reader/archive_reader.py:18-55
    (members → attached-file list; here: explode members into new rows)
  - dispatch        dedoc/readers/reader_composition.py:21-46 +
    mime re-sniff retry dedoc_manager.py:145-167 (extension first, then
    content magic)
"""

from __future__ import annotations

import csv
import email
import email.header
import hashlib
import io
import json
import re
from itertools import accumulate
from typing import Dict, List, Optional, Tuple

from dedoc_spark.core.html_extract import HtmlExtractor
from dedoc_spark.core.limits import MAX_JSON_DEPTH, BoundedZip, ResourceLimit
from dedoc_spark.core.model import Cell, HierarchyLevel, Line, Table

_HTML = HtmlExtractor()


# --- JSON -------------------------------------------------------------------

# a string; an unterminated one runs to the end, so the scan stays linear
_JSON_STRING = re.compile(r'"[^"\\]*(?:\\.[^"\\]*)*"?', re.S)
_JSON_BRACKET = re.compile(r"[\[\]{}]")
_JSON_STEP = {"[": 1, "{": 1, "]": -1, "}": -1}


def _json_loads(payload: str):
    """``json.loads`` within ``MAX_JSON_DEPTH``: past it, ResourceLimit
    ("depth") before the decoder starts. The depth is the largest prefix
    sum of the brackets left once the strings are cut out."""
    if payload.count("[") + payload.count("{") > MAX_JSON_DEPTH:
        brackets = _JSON_BRACKET.findall(_JSON_STRING.sub("", payload))
        if max(accumulate(map(_JSON_STEP.__getitem__, brackets)), default=0) > MAX_JSON_DEPTH:
            raise ResourceLimit("depth")
    return json.loads(payload)


def json_html_field_attachments(payload: str, html_fields: List[List[str]]) -> List[Tuple[str, bytes]]:
    """JsonAttachmentsExtractor port (json_attachment_extractor.py:16-61):
    each key path in ``html_fields`` whose end node is a STRING becomes an
    attached html file named ``json.dumps(keys)`` + ".html"; non-string
    end nodes are skipped."""
    data = _json_loads(payload)
    out: List[Tuple[str, bytes]] = []
    for keys in html_fields:
        name = json.dumps(keys, ensure_ascii=False) + ".html"
        content = data
        try:
            for key in keys:
                content = content[key]
        except (KeyError, TypeError, IndexError):
            continue
        if isinstance(content, str):
            out.append((name, content.encode("utf-8")))
    return out


def _exclude_json_fields(data, field_keys: List[List[str]]):
    """json_reader.py:66-85 __exclude_html_fields: delete each key path,
    then prune parents that became empty (bottom-up)."""
    for keys in field_keys:
        node = data
        parents = []
        try:
            for key in keys[:-1]:
                parents.append((node, key))
                node = node[key]
            del node[keys[-1]]
        except (KeyError, TypeError, IndexError):
            continue
        for parent, key in parents[::-1]:
            if not parent[key]:
                del parent[key]
    return data


def extract_json_lines(
    payload: str, url_hash: str = "", html_fields: Optional[List[List[str]]] = None
) -> List[Line]:
    """Generic JSON tree-flatten with the reference's DFS order.

    ``html_fields`` (json_reader.py:41-49): key paths excluded from the
    flatten — their content is surfaced as html attachments instead
    (json_html_field_attachments)."""
    data = _json_loads(payload)
    if html_fields:
        data = _exclude_json_fields(data, html_fields)

    def is_flat(v) -> bool:
        return not isinstance(v, (dict, list))

    def text_of(v) -> str:
        if isinstance(v, (dict, list)) or v is None:
            return ""
        return str(v)

    def make(depth: int, value_text: str, line_type: str, idx: int) -> Line:
        hl = HierarchyLevel(depth, 1, False, line_type)
        uid = f"{url_hash}_{hashlib.md5(f'json{idx}{value_text}'.encode()).hexdigest()}"
        return Line(line=value_text, tag_hl=hl, uid=uid)

    stack: List[Tuple[object, int]] = [(data, 1)]
    result: List[Line] = []
    while stack:
        element, depth = stack.pop()
        if isinstance(element, dict) and len(element) > 0:
            # take the smallest key, re-push the rest (json_reader.py:99-110)
            for key in sorted(element.keys()):
                value = element.pop(key)
                result.append(make(depth, str(key), "key", len(result)))
                stack.append((element, depth))
                if value is not None:
                    stack.append((value, depth + 1))
                break
        if isinstance(element, list) and len(element) > 0:
            while element:
                sub = element.pop(0)
                result.append(
                    make(depth, text_of(sub), HierarchyLevel.list_item, len(result))
                )
                if not is_flat(sub):
                    stack.append((element, depth))
                    stack.append((sub, depth + 1))
                    break
        elif is_flat(element):
            result.append(make(depth, str(element), HierarchyLevel.raw_text, len(result)))
    for i, line in enumerate(result):
        line.line_id = i
    return result


# --- CSV / TSV ---------------------------------------------------------------


def extract_csv_table(
    payload: str, url_hash: str = "", delimiter: Optional[str] = None, is_tsv: bool = False
) -> Tuple[List[Table], List[str]]:
    if delimiter is None:
        delimiter = "\t" if is_tsv else ","
    rows = list(csv.reader(io.StringIO(payload), delimiter=delimiter))
    cells = [[Cell(lines=[Line(line=str(c))]) for c in row] for row in rows]
    uid = hashlib.md5(f"{url_hash}_csv_table".encode()).hexdigest()
    warnings = [f"delimiter is '{delimiter}'"]
    return [Table(cells=cells, page_id=0, uid=uid)], warnings


# --- email (.eml) -------------------------------------------------------------


def _decode_header_value(text: str) -> str:
    parts = []
    for chunk, enc in email.header.decode_header(text):
        if isinstance(chunk, bytes):
            parts.append(chunk.decode(enc or "ascii", errors="replace"))
        else:
            parts.append(chunk)
    return "".join(parts)


EMAIL_FIELDS = ["subject", "from", "to", "cc", "bcc", "date", "reply-to"]


def extract_email(payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
    msg = email.message_from_bytes(payload)
    lines: List[Line] = []
    tables: List[Table] = []
    warnings: List[str] = []

    def header_line(key: str, hl: HierarchyLevel, idx: int) -> Line:
        text = _decode_header_value(msg.get(key, ""))
        uid = f"{url_hash}_{hashlib.md5(f'eml{key}{idx}'.encode()).hexdigest()}"
        return Line(line=text, tag_hl=hl, uid=uid)

    # subject becomes the (0,0) root-text line (email_reader.py:205-216)
    lines.append(header_line("subject", HierarchyLevel(0, 0, False, "root"), 0))
    for i, field in enumerate(EMAIL_FIELDS):
        line = header_line(field, HierarchyLevel(1, 0, False, field), i + 1)
        if len(line.line) > 0:
            lines.append(line)

    html_found = False
    text_parts = []
    for part in msg.walk():
        ctype = part.get_content_type()
        if part.is_multipart():
            continue
        body = part.get_payload(decode=True)
        if body is None:
            continue
        if ctype == "text/html":
            html_found = True
            part_lines, part_tables, w = _HTML.extract(body, url_hash)
            for ln in part_lines:
                ln.line += "\n"
            lines.extend(part_lines)
            tables.extend(part_tables)
            warnings.extend(w)
        elif ctype == "text/plain":
            text_parts.append(body)

    if not html_found:
        for body in text_parts:
            text = body.decode(errors="replace")
            for i, t in enumerate(text.split("\n")):
                uid = f"{url_hash}_{hashlib.md5(f'emltxt{len(lines)}{i}'.encode()).hexdigest()}"
                lines.append(Line(line=t + "\n", uid=uid))

    for i, line in enumerate(lines):
        line.line_id = i
    return lines, tables, warnings


# --- MHTML --------------------------------------------------------------------


def extract_mhtml(payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
    """MIME-multipart web archive: html parts through the HTML core,
    other parts reported as attachment warnings (v1 keeps payloads out)."""
    msg = email.message_from_bytes(payload)
    lines: List[Line] = []
    tables: List[Table] = []
    warnings: List[str] = []
    for part in msg.walk():
        if part.is_multipart():
            continue
        ctype = part.get_content_type()
        body = part.get_payload(decode=True)
        if body is None:
            continue
        if ctype in ("text/html", "application/xhtml+xml"):
            part_lines, part_tables, w = _HTML.extract(body, url_hash)
            lines.extend(part_lines)
            tables.extend(part_tables)
            warnings.extend(w)
        else:
            warnings.append(f"attachment: {part.get('Content-Location', ctype)}")
    for i, line in enumerate(lines):
        line.line_id = i
    return lines, tables, warnings


# --- ZIP archives --------------------------------------------------------------


def list_archive_members(payload: bytes, max_members: int = 1000) -> List[Tuple[str, bytes]]:
    """Archive members → (name, bytes) for row-explosion (url#member rows
    feed back through dispatch, bounded like the reference's recursion
    depth). Zip (incl. LZMA-method entries), tar and tar.{gz,bz2,xz}/gz/
    bz2/xz are stdlib-native (zlib/bz2/lzma); a bare compressed file (not
    a tarball) yields one member."""
    out: List[Tuple[str, bytes]] = []
    if payload[:6] == b"7z\xbc\xaf\x27\x1c":
        from dedoc_spark.core.sevenzip import list_members

        return list_members(payload, max_members)
    if payload[:6] == b"Rar!\x1a\x07":
        from dedoc_spark.core.rar_extract import list_members as rar_members

        return rar_members(payload, max_members)
    if payload[:4] == b"PK\x03\x04":
        with BoundedZip(payload) as zf:
            return [(info.filename, zf.read(info)) for info in zf.infolist()[:max_members] if not info.is_dir()]
    import bz2
    import gzip
    import lzma
    import tarfile

    data = payload
    if payload[:2] == b"\x1f\x8b":
        data = gzip.decompress(payload)
    elif payload[:3] == b"BZh":
        data = bz2.decompress(payload)
    elif payload[:6] == b"\xfd7zXZ\x00":
        data = lzma.decompress(payload)
    if data[257:262] == b"ustar" or _is_tar(data):
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            for member in tf.getmembers()[:max_members]:
                if not member.isfile():
                    continue
                f = tf.extractfile(member)
                if f is not None:
                    out.append((member.name.rsplit("/", 1)[-1], f.read()))
        return out
    if data is not payload:  # bare gzip/bz2/xz of a single file
        return [("member", data)]
    raise ValueError("unsupported archive payload")


# --- attachments (attachments_handler.py:31-81 re-entry semantics) -----------


def list_attachments(
    url: str, payload: bytes, max_members: int = 1000, params: Optional[Dict] = None
) -> List[Tuple[str, bytes]]:
    """Attachment payloads of one document as (name, bytes) — the pure
    function behind the Spark attachment-explosion channel. Covers:

      email  non-text leaf parts (email_reader.py:109-120: skip multipart,
             text/plain, text/html; filename from the part header)
      docx/xlsx/pptx  media + embeddings zip members
             (docx_attachments_extractor.py semantics, media dir per format)
      mhtml  non-html leaf parts (mhtml_reader.py attachments)
      zip    members (archive_reader.py:18-55)
    """
    fmt = detect_format(url, payload, None)
    out: List[Tuple[str, bytes]] = []
    if fmt == "json" and params and params.get("html_fields"):
        return json_html_field_attachments(
            payload.decode("utf-8", errors="replace"), params["html_fields"]
        )[:max_members]
    if fmt == "zip":
        return list_archive_members(payload, max_members)
    if fmt == "email" or fmt == "mhtml":
        msg = email.message_from_bytes(payload)
        idx = 0
        if fmt == "email":
            # the reference saves ALL header fields into an attached json
            # (email_reader.py:59-67, prefix "message_header_"); the unique
            # suffix is content-derived here instead of uuid1 (determinism)
            header_fields = dict(msg.items())
            header_json = json.dumps(header_fields, ensure_ascii=False, indent=4)
            suffix = hashlib.md5(header_json.encode("utf-8")).hexdigest()[:12]
            out.append((f"message_header_{suffix}.json", header_json.encode("utf-8")))
        for part in msg.walk():
            ctype = part.get_content_type()
            if part.is_multipart() or ctype in ("text/plain", "text/html"):
                continue
            if fmt == "mhtml" and ctype == "application/xhtml+xml":
                continue
            body = part.get_payload(decode=True)
            if body is None:
                continue
            name = part.get_filename()
            if name:
                name = _decode_header_value(name)
            else:
                loc = part.get("Content-Location")
                ext = ctype.rsplit("/", 1)[-1]
                name = loc.rsplit("/", 1)[-1] if loc else f"attachment_{idx}.{ext}"
            out.append((name, body))
            idx += 1
            if len(out) >= max_members:
                break
        return out
    if fmt in ("docx", "xlsx", "pptx"):
        if fmt == "docx":
            # diagrams first, like the reference extractor (each pict
            # paragraph repacked as a one-diagram docx; extract:30-36)
            from dedoc_spark.core.docx_extract import diagram_attachments

            out.extend(diagram_attachments(payload, max_members))
        media_dirs = {"docx": ("word/media/", "word/embeddings/"),
                      "xlsx": ("xl/media/", "xl/embeddings/"),
                      "pptx": ("ppt/media/", "ppt/embeddings/")}[fmt]
        with BoundedZip(payload) as zf:
            for info in zf.infolist():
                if not info.is_dir() and info.filename.startswith(media_dirs):
                    out.append((info.filename.rsplit("/", 1)[-1], zf.read(info)))
                    if len(out) >= max_members:
                        break
        return out
    return out


# --- note (.note.pickle, labeling format) ------------------------------------


def _load_note(payload: bytes) -> Dict:
    """The note dict. SECURITY deviation from the reference: the reference
    calls pickle.load directly — on untrusted web bytes that is arbitrary
    code execution, so this port uses a RESTRICTED unpickler that refuses
    every global/class lookup (plain containers and scalars only; a
    malicious pickle raises into the typed error channel instead of
    executing)."""
    import pickle

    class _SafeUnpickler(pickle.Unpickler):
        def find_class(self, module, name):  # noqa: ARG002
            raise pickle.UnpicklingError(
                f"note pickle requested global {module}.{name} — refused"
            )

    return _SafeUnpickler(io.BytesIO(payload)).load()


def extract_note_content(payload: bytes) -> str:
    """NoteReader port (note_reader.py:15-37): unpickle the note dict
    (``_load_note``) and return its "content" text."""
    text = _load_note(payload)["content"]
    if isinstance(text, bytes):
        text = text.decode()
    return text


def extract_note_metadata(payload: bytes) -> Dict[str, str]:
    """NoteMetadataExtractor port (note_metadata_extarctor.py:33-60 —
    the reference filename typo is theirs): the note dict's own
    size/created_time/modified_time/author fields become the metadata
    (access_time = modified_time, file_type = "note"), through the same
    restricted unpickler as the reader. A broken note raises — the
    reference maps it to BadFileFormatError; callers route it to the
    typed error/empty-metadata channel."""
    note_dict = _load_note(payload)
    return {
        "file_type": "note",
        "size": str(note_dict["size"]),
        "access_time": str(note_dict["modified_time"]),
        "created_time": str(note_dict["created_time"]),
        "modified_time": str(note_dict["modified_time"]),
        "author": str(note_dict["author"]),
    }


# --- text encoding detection (utils.get_encoding semantics, §2.9) -----------


def decode_text_payload(payload: bytes, encoding: Optional[str] = None) -> str:
    """Decode a plain-text payload: explicit encoding param wins
    (raw_text_reader.py:46-52), then BOM, then utf-8, then a deterministic
    legacy-Cyrillic scorer (cp1251 vs koi8-r vs cp866, scored by the share
    of Cyrillic letters + whitespace in the decode — stdlib-only so the
    result is identical on every driver/executor; the reference's
    chardet-style ``get_encoding`` would make the same bytes decode
    differently depending on what's installed where)."""
    if encoding:
        return payload.decode(encoding, errors="ignore")
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload[3:].decode("utf-8", errors="ignore")
    if payload.startswith(b"\xff\xfe") or payload.startswith(b"\xfe\xff"):
        return payload.decode("utf-16", errors="ignore")
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        pass
    # Western vs Cyrillic split on high-byte density: accented Latin text
    # has isolated ≥0x80 bytes (é, ü, ç) inside ASCII words; Cyrillic text
    # is nearly all high bytes. The 25% line separates them decisively and
    # deterministically.
    high = sum(1 for b in payload if b >= 0x80)
    if payload and high / len(payload) < 0.25:
        return payload.decode("cp1252", errors="replace")
    best_text = None
    best_score = -1.0
    for candidate in ("cp1251", "koi8-r", "cp866"):
        text = payload.decode(candidate, errors="replace")
        if not text:
            continue
        # lowercase Cyrillic weighs full, uppercase 0.3: a wrong legacy
        # decode case-swaps the text, so real (mostly-lowercase) prose
        # separates the candidates deterministically
        good = sum(
            1.0 if (("а" <= ch <= "я") or ch == "ё" or ch.isspace() or ch.isascii())
            else 0.3 if (("А" <= ch <= "Я") or ch == "Ё")
            else 0.0
            for ch in text
        )
        score = good / len(text)
        if score > best_score:  # strict > — first candidate wins ties
            best_score = score
            best_text = text
    return best_text if best_text is not None else payload.decode("cp1251", errors="replace")


# --- format dispatch ------------------------------------------------------------

_EXT_FORMATS = {
    "html": "html", "htm": "html", "shtml": "html",
    "txt": "txt",
    # .xml is txt_like in the reference (extensions.py:35 — TxtConverter
    # feeds RawTextReader), NOT a markup reader
    "xml": "txt",
    "json": "json",
    "csv": "csv", "tsv": "tsv",
    "eml": "email",
    "mhtml": "mhtml", "mht": "mhtml",
    "zip": "zip",
    "docx": "docx",
    "xlsx": "xlsx",
    "pptx": "pptx",
    "pdf": "pdf",
    # .doc/.ppt/.xls parse natively (core/doc_extract.py, xls_extract.py);
    # the remaining soffice-converted formats get a typed needs_conversion
    # error row instead of the html-fallback garbage path
    "doc": "doc",
    "rtf": "rtf",  # native control-word parser (core/rtf_extract.py)
    "odt": "odt", "ods": "ods", "odp": "odp",  # native (core/odf_extract.py)
    "xls": "xls",  # native BIFF8 reader (core/xls_extract.py)
    "ppt": "ppt",  # native record-scan reader (core/doc_extract.py)
    # rar container walk is native (core/rar_extract.py: RAR4+RAR5
    # headers, STORED members extract; the proprietary compression methods
    # raise the typed needs_unpacker error per member); 7z is native
    # (core/sevenzip.py: COPY/LZMA/LZMA2 folders), and tar/gz/bz2/xz are
    # stdlib-native — all join the archive channel
    "rar": "zip",
    "7z": "zip",
    "gz": "zip", "tgz": "zip", "tar": "zip",
    "bz2": "zip", "tbz2": "zip", "xz": "zip", "txz": "zip",  # stdlib bz2/lzma
    # binary media: typed routing to the (stubbed) decoder channel instead
    # of markup fallback — the reference's image path needs OCR (de-scoped)
    "png": "media:image/png",
    "jpg": "media:image/jpeg", "jpeg": "media:image/jpeg",
    "gif": "media:image/gif",
    "bmp": "media:image/bmp",
    "tiff": "media:image/tiff", "tif": "media:image/tiff",
    "webp": "media:image/webp",
    "heic": "media:image/heif", "heif": "media:image/heif",
    "avif": "media:image/avif",
    "mp3": "media:audio/mpeg", "wav": "media:audio/wav",
    "mp4": "media:video/mp4", "avi": "media:video/avi",
}

# ISO-BMFF ftyp major brands (bytes 8-12 after the 4-byte box size +
# "ftyp"): still-image brands route to the image channel, movie brands
# to video; unknown brands fall through to the text/markup fallback
_FTYP_BRANDS = {
    b"heic": "media:image/heif", b"heix": "media:image/heif",
    b"heim": "media:image/heif", b"heis": "media:image/heif",
    b"hevc": "media:image/heif", b"hevx": "media:image/heif",
    b"mif1": "media:image/heif", b"msf1": "media:image/heif",
    b"avif": "media:image/avif", b"avis": "media:image/avif",
    b"isom": "media:video/mp4", b"iso2": "media:video/mp4",
    b"mp41": "media:video/mp4", b"mp42": "media:video/mp4",
    b"mp4v": "media:video/mp4", b"M4V ": "media:video/mp4",
    b"qt  ": "media:video/mp4",
}

# only magics that can't collide with plain text (BM/RIFF deliberately
# excluded — "BMW…"/"RIFF raff" text would misroute; extensions cover those)
_MEDIA_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "media:image/png"),
    (b"\xff\xd8\xff", "media:image/jpeg"),
    (b"GIF87a", "media:image/gif"),
    (b"GIF89a", "media:image/gif"),
    (b"II*\x00", "media:image/tiff"),
    (b"MM\x00*", "media:image/tiff"),
    (b"II+\x00", "media:image/tiff"),  # BigTIFF (version 43)
    (b"MM\x00+", "media:image/tiff"),
]

# OLE2 compound file (legacy .doc/.xls/.ppt share one magic)
_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def _is_tar(data: bytes) -> bool:
    import tarfile

    try:
        with tarfile.open(fileobj=io.BytesIO(data)):
            return True
    except tarfile.TarError:
        return False


def detect_format(url: str, payload: Optional[bytes], text: Optional[str]) -> str:
    """Extension-first, then content-magic re-sniff (the reference's retry
    collapsed to one pass)."""
    # .txt.gz is a SINGLE text document in the reference (RawTextReader
    # can_read, raw_text_reader.py:34-50), not an archive to explode
    if url.lower().endswith(".txt.gz"):
        return "txt_gz"
    if url.lower().endswith(".note.pickle"):
        return "note"
    ext = url.rsplit(".", 1)[-1].lower() if "." in url.rsplit("/", 1)[-1] else ""
    if ext in _EXT_FORMATS:
        return _EXT_FORMATS[ext]
    if payload:
        head = payload[:512].lstrip()
        for magic, fmt in _MEDIA_MAGIC:
            if payload[:len(magic)] == magic:
                return fmt
        if payload[4:8] == b"ftyp" and payload[8:12] in _FTYP_BRANDS:
            # require a plausible big-endian box size so arbitrary bytes
            # embedding "ftyp<brand>" at offset 4 don't misroute (same
            # collision policy as the BM/RIFF exclusion above)
            box = int.from_bytes(payload[0:4], "big")
            if 8 <= box <= len(payload):
                return _FTYP_BRANDS[payload[8:12]]
        if payload[:8] == _OLE2_MAGIC:
            # sniff the compound-file directory for the stream that names
            # the format; unrecognized OLE2 keeps the typed conversion row
            try:
                from dedoc_spark.core.xls_extract import ole2_streams

                streams = ole2_streams(payload)
                if "Workbook" in streams or "Book" in streams:
                    return "xls"
                if "WordDocument" in streams:
                    return "doc"
                if "PowerPoint Document" in streams:
                    return "ppt"
            except Exception:
                pass
            return "needs_conversion:ole2"
        if payload[:5] == b"{\\rtf":
            return "rtf"
        if payload[:6] == b"Rar!\x1a\x07":
            return "zip"  # native rar container walk (core/rar_extract.py)
        if payload[:6] == b"7z\xbc\xaf\x27\x1c":
            return "zip"  # native 7z reader (core/sevenzip.py)
        if payload[:2] == b"\x1f\x8b":
            return "zip"  # gzip joins the archive-explosion channel
        if payload[:3] == b"BZh" and len(payload) > 4 and payload[3:4].isdigit():
            return "zip"  # bzip2 (stdlib bz2)
        if payload[:6] == b"\xfd7zXZ\x00":
            return "zip"  # xz (stdlib lzma)
        if payload[257:262] == b"ustar" and _is_tar(payload):
            return "zip"  # verified tar (plain text can contain 'ustar')
        if payload[:4] == b"PK\x03\x04":
            try:
                with BoundedZip(payload) as zf:
                    members = set(zf.namelist())
                    if "word/document.xml" in members:
                        return "docx"
                    if "xl/workbook.xml" in members:
                        return "xlsx"
                    if "ppt/presentation.xml" in members:
                        return "pptx"
                    if "mimetype" in members:
                        mt = zf.read("mimetype")[:64].decode("ascii", "replace")
                        if mt.startswith("application/vnd.oasis.opendocument"):
                            kind = {"text": "odt", "spreadsheet": "ods", "presentation": "odp"}
                            fmt = kind.get(mt.rsplit(".", 1)[-1].strip())
                            return fmt if fmt else "needs_conversion:odf"
            except Exception:
                pass
            return "zip"
        if payload[:5] == b"%PDF-":
            return "pdf"
        if head[:1] in (b"{", b"["):
            return "json"
        if head[:1] == b"<" or b"<html" in payload[:2048].lower():
            return "html"
        if payload[:5] in (b"From:", b"From ") or b"MIME-Version:" in payload[:2048]:
            return "email"
        return "html"  # web default: treat unknown markup-ish bytes as html
    if text:
        return "txt"
    return "txt"
