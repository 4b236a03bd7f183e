"""Per-format metadata extractors.

References:
  - BaseMetadataExtractor (metadata_extractors/concrete_metadata_extractors/
    base_metadata_extractor.py:33-71): file stats — replaced here by input
    table columns (url, warc_ts, length(html)); see pipeline metrics.
  - DocxMetadataExtractor (docx_metadata_extractor.py): docProps/core.xml
    fields (title, author/creator, subject, created/modified...).
  - PdfMetadataExtractor (pdf_metadata_extractor.py): the /Info dict
    (Producer, Author, Title, CreationDate...) with ISO/IEC 8824 date
    conversion to unixtime (utils/utils.py:234-255).
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from typing import Dict, Optional
from xml.etree import ElementTree as ET

from dedoc_spark.core.limits import BoundedZip
from dedoc_spark.core.model import param_flag

_PDF_DATE_RE = re.compile(
    r"D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?([+\-Zz])?(\d{2})?'?(\d{2})?"
)


def convert_pdf_date(date_str: str) -> Optional[int]:
    """'D:YYYYMMDDHHmmSSOHH'mm'' → unix timestamp (utils.py:234-255)."""
    m = _PDF_DATE_RE.match(date_str.strip())
    if not m:
        return None
    parts = [m.group(i) for i in range(1, 7)]
    year = int(parts[0])
    month = int(parts[1] or 1)
    day = int(parts[2] or 1)
    hour = int(parts[3] or 0)
    minute = int(parts[4] or 0)
    second = int(parts[5] or 0)
    dt = datetime(year, month, day, hour, minute, second, tzinfo=timezone.utc)
    sign, oh, om = m.group(7), m.group(8), m.group(9)
    if sign in ("+", "-") and oh:
        offset = timedelta(hours=int(oh), minutes=int(om or 0))
        dt = dt - offset if sign == "+" else dt + offset
    return int(dt.timestamp())


def _pdf_text(raw: bytes) -> str:
    """PDF text-string bytes -> str (UTF-16BE when BOM'd, else latin-1
    to match the literal-string path's byte semantics)."""
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            pass
    return raw.decode("latin-1")


def extract_pdf_metadata(payload: bytes) -> Dict[str, str]:
    """The /Info dictionary fields; dates converted to unixtime strings.

    Encrypted documents decrypt the /Info object's strings in place
    (re-encoded as hex), so the fields here come out as ``<hex>`` tokens
    instead of literals. The /Info object is the one the governing
    trailer names, read in its newest version without parsing the whole
    file (core/pdf_objects)."""
    from dedoc_spark.core.pdf_objects import read_object, trailer_ref

    out: Dict[str, str] = {}
    info_oid = trailer_ref(payload, b"/Info")
    obj = read_object(payload, info_oid) if info_oid is not None else None
    if obj is None:  # no /Info reference, missing object or locked file
        return out

    def field(key: bytes) -> Optional[str]:
        m = re.search(rb"/" + key + rb"\s*\(((?:\\.|[^\\)])*)\)", obj)
        if m:
            return m.group(1).decode("latin-1")
        m = re.search(rb"/" + key + rb"\s*<([0-9A-Fa-f]*)>", obj)
        if m and len(m.group(1)) % 2 == 0:
            return _pdf_text(bytes.fromhex(m.group(1).decode("ascii")))
        return None

    for key in (b"Title", b"Author", b"Subject", b"Producer", b"Creator"):
        val = field(key)
        if val is not None:
            out[key.decode().lower()] = val
    for key in (b"CreationDate", b"ModDate"):
        val = field(key)
        if val is not None:
            ts = convert_pdf_date(val)
            if ts is not None:
                out[key.decode().lower()] = str(ts)
    return out


_CORE_FIELDS = {
    "{http://purl.org/dc/elements/1.1/}title": "title",
    "{http://purl.org/dc/elements/1.1/}creator": "creator",
    "{http://purl.org/dc/elements/1.1/}subject": "subject",
    "{http://schemas.openxmlformats.org/package/2006/metadata/core-properties}lastModifiedBy": "last_modified_by",
    "{http://purl.org/dc/terms/}created": "created",
    "{http://purl.org/dc/terms/}modified": "modified",
}


def extract_docx_metadata(payload: bytes) -> Dict[str, str]:
    """docProps/core.xml fields (docx_metadata_extractor.py semantics)."""
    out: Dict[str, str] = {}
    try:
        with BoundedZip(payload) as zf:
            if "docProps/core.xml" not in zf.namelist():
                return out
            root = ET.fromstring(zf.read("docProps/core.xml"))
    except Exception:
        return out
    for el in root.iter():
        key = _CORE_FIELDS.get(el.tag)
        if key and el.text:
            out[key] = el.text
    return out


# --- image EXIF (image_metadata_extractor.py:30-46 field set) ---------------

_EXIF_TAGS = {
    0x0132: "DateTime",
    0x010F: "Make",
    0x0110: "Model",
    0x0112: "Orientation",
    0x0128: "ResolutionUnit",
    0x0131: "Software",
    0x9003: "DateTimeOriginal",
    0x9004: "DateTimeDigitized",
    0xA002: "ExifImageWidth",
    0xA003: "ExifImageHeight",
    0x9000: "ExifVersion",
    0xA404: "DigitalZoomRatio",
    0x9208: "LightSource",
    0xA40C: "SubjectDistanceRange",
    0x9286: "UserComment",
}

# output field name + parser kind, mirroring the reference's keys map
_EXIF_FIELDS = {
    "DateTime": ("date_time", "date"),
    "DateTimeDigitized": ("date_time_digitized", "date"),
    "DateTimeOriginal": ("date_time_original", "date"),
    "DigitalZoomRatio": ("digital_zoom_ratio", "float"),
    "ExifImageHeight": ("exif_image_height", "int"),
    "ExifImageWidth": ("exif_image_width", "int"),
    "ExifVersion": ("exif_version", "str"),
    "LightSource": ("light_source", "int"),
    "Make": ("make", "str"),
    "Model": ("model", "str"),
    "Orientation": ("orientation", "int"),
    "ResolutionUnit": ("resolution_unit", "int"),
    "Software": ("software", "str"),
    "SubjectDistanceRange": ("subject_distance_range", "int"),
    "UserComment": ("user_comment", "str"),
}


def _exif_date_to_unix(s: str) -> Optional[int]:
    import calendar
    import time as _time

    try:
        t = _time.strptime(s.strip().replace(": ", ":"), "%Y:%m:%d %H:%M:%S")
        return int(calendar.timegm(t))
    except ValueError:
        return None


def _parse_tiff_ifds(tiff: bytes) -> Dict[str, object]:
    """Walk IFD0 + the Exif sub-IFD of a TIFF blob; return raw tag values."""
    import struct

    if tiff[:2] == b"II":
        end = "<"
    elif tiff[:2] == b"MM":
        end = ">"
    else:
        return {}
    raw: Dict[str, object] = {}

    def read_ifd(offset: int) -> None:
        if offset + 2 > len(tiff):
            return
        (count,) = struct.unpack_from(end + "H", tiff, offset)
        for i in range(count):
            base = offset + 2 + i * 12
            if base + 12 > len(tiff):
                return
            tag, vtype, n = struct.unpack_from(end + "HHI", tiff, base)
            size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}.get(vtype, 1) * n
            if size <= 4:
                voff = base + 8
            else:
                (voff,) = struct.unpack_from(end + "I", tiff, base + 8)
            if voff + size > len(tiff):
                continue
            if tag == 0x8769:  # Exif sub-IFD pointer
                (sub,) = struct.unpack_from(end + "I", tiff, base + 8)
                read_ifd(sub)
                continue
            name = _EXIF_TAGS.get(tag)
            if name is None:
                continue
            if vtype == 2:  # ASCII
                raw[name] = tiff[voff : voff + n].split(b"\x00")[0].decode("latin-1")
            elif vtype == 3:
                raw[name] = struct.unpack_from(end + "H", tiff, voff)[0]
            elif vtype in (4, 9):
                raw[name] = struct.unpack_from(end + "I", tiff, voff)[0]
            elif vtype in (5, 10):
                num, den = struct.unpack_from(end + ("II" if vtype == 5 else "ii"), tiff, voff)
                raw[name] = num / den if den else 0.0
            elif vtype == 7:  # UNDEFINED
                raw[name] = tiff[voff : voff + n]

    (ifd0,) = struct.unpack_from(end + "I", tiff, 4)
    read_ifd(ifd0)
    return raw


def extract_image_metadata(payload: bytes) -> Dict[str, str]:
    """EXIF fields of a JPEG (APP1 segment) or bare TIFF — the reference's
    ImageMetadataExtractor field set, values stringified like the other
    metadata extractors; dates → unixtime."""
    import struct

    tiff = None
    if payload[:2] == b"\xff\xd8":  # JPEG: scan segments for APP1/Exif
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
                tiff = payload[pos + 10 : pos + 2 + seg_len]
                break
            pos += 2 + seg_len
    elif payload[:2] in (b"II", b"MM"):
        tiff = payload
    if tiff is None:
        return {}
    raw = _parse_tiff_ifds(tiff)
    out: Dict[str, str] = {}
    for src, (field, kind) in _EXIF_FIELDS.items():
        if src not in raw:
            continue
        v = raw[src]
        if isinstance(v, bytes):
            try:
                v = v.decode()
            except UnicodeDecodeError:
                continue
        if kind == "date":
            ts = _exif_date_to_unix(str(v))
            if ts is not None:
                out[field] = str(ts)
        elif kind == "int":
            try:
                out[field] = str(int(v))
            except (TypeError, ValueError):
                pass
        elif kind == "float":
            try:
                out[field] = str(float(v))
            except (TypeError, ValueError):
                pass
        else:
            out[field] = str(v)
    return out


# --- OLE2 SummaryInformation (legacy doc/xls/ppt property set) ---------------

_PIDSI = {
    2: ("title", "str"),
    3: ("subject", "str"),
    4: ("author", "str"),
    5: ("keywords", "str"),
    6: ("comments", "str"),
    8: ("last_saved_by", "str"),
    12: ("created_time", "filetime"),
    13: ("modified_time", "filetime"),
}

_FILETIME_EPOCH_DELTA = 11644473600  # seconds between 1601-01-01 and 1970-01-01


def extract_ole2_metadata(payload: bytes) -> Dict[str, str]:
    """[MS-OLEPS] \\x05SummaryInformation property set of a compound file:
    the legacy analogue of docx core.xml (title/subject/author/keywords/
    comments/last_saved_by + created/modified as unixtime strings)."""
    import struct

    from dedoc_spark.core.xls_extract import ole2_streams

    try:
        streams = ole2_streams(payload)
    except ValueError:
        return {}
    ps = streams.get("\x05SummaryInformation")
    if ps is None or len(ps) < 48:
        return {}
    out: Dict[str, str] = {}
    try:
        (num_sets,) = struct.unpack_from("<I", ps, 24)
        if num_sets < 1:
            return {}
        (sec_off,) = struct.unpack_from("<I", ps, 28 + 16)
        _cb, n_props = struct.unpack_from("<II", ps, sec_off)
        for i in range(n_props):
            pid, poff = struct.unpack_from("<II", ps, sec_off + 8 + i * 8)
            spec = _PIDSI.get(pid)
            if spec is None:
                continue
            field, kind = spec
            (vt,) = struct.unpack_from("<I", ps, sec_off + poff)
            vpos = sec_off + poff + 4
            if kind == "str" and vt == 0x001E:  # VT_LPSTR
                (cch,) = struct.unpack_from("<I", ps, vpos)
                raw = ps[vpos + 4 : vpos + 4 + cch].split(b"\x00")[0]
                if raw:
                    out[field] = raw.decode("cp1252", "replace")
            elif kind == "str" and vt == 0x001F:  # VT_LPWSTR
                (cch,) = struct.unpack_from("<I", ps, vpos)
                raw = ps[vpos + 4 : vpos + 4 + cch * 2].decode("utf-16-le", "replace").rstrip("\x00")
                if raw:
                    out[field] = raw
            elif kind == "filetime" and vt == 0x0040:  # VT_FILETIME
                (ft,) = struct.unpack_from("<Q", ps, vpos)
                if ft:
                    out[field] = str(ft // 10_000_000 - _FILETIME_EPOCH_DELTA)
    except struct.error:
        return out
    return out


def extract_document_metadata(
    url: str, payload: Optional[bytes], params: Optional[Dict] = None
) -> Dict[str, str]:
    """Per-document metadata dispatch (the reference's metadata-extractor
    composition): docx core.xml, pdf /Info, OLE2 SummaryInformation, image
    EXIF — one pure function for the Spark metadata stage.

    ``return_base64`` (base_metadata_extractor.py:49-52): when the
    document is an ATTACHMENT and the parameter is "true", the metadata
    gains ``base64_encode`` = base64 of the raw payload bytes.
    Attachment-ness comes ONLY from the handler-set ``is_attached``
    parameter, exactly like the reference — a bare "#" in the url is NOT
    enough (crawled urls carry fragments; the attachment channel passes
    is_attached explicitly, see operators/archives.py)."""
    if not payload:
        return {}
    from dedoc_spark.core.formats import detect_format

    params = params or {}
    fmt = detect_format(url, payload, None)
    out: Dict[str, str] = {}
    try:
        if url.lower().endswith(".note.pickle"):
            from dedoc_spark.core.formats import extract_note_metadata

            out = extract_note_metadata(payload)
        elif fmt == "docx":
            out = extract_docx_metadata(payload)
        elif fmt == "pdf":
            out = extract_pdf_metadata(payload)
        elif fmt in ("xls", "doc", "ppt") or fmt == "needs_conversion:ole2":
            out = extract_ole2_metadata(payload)
        elif fmt.startswith("media:image/"):
            out = extract_image_metadata(payload)
    except Exception:
        return {}
    if param_flag(params, "is_attached") and param_flag(params, "return_base64"):
        import base64 as _b64

        out = dict(out)
        out["base64_encode"] = _b64.b64encode(payload).decode("utf-8")
    return out
