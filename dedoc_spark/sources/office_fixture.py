"""Minimal XLSX / PPTX fixture generation for tests (zip + hand-built XML)."""

from __future__ import annotations

import io
import zipfile
from typing import List, Sequence, Tuple, Union

_SS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_A = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_P = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'


def _col_ref(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(65 + rem) + out
    return out


def zip_bytes(members: Sequence[Tuple[str, Union[str, bytes]]]) -> bytes:
    """A stored zip of ``(name, data)`` members in order. Every member is
    stamped 1980-01-01 with ``writestr(name)``'s 0o600 mode, so the bytes
    depend only on the members, never on the wall clock."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o600 << 16
            zf.writestr(info, data)
    return buf.getvalue()


def build_xlsx(sheets: Sequence[Sequence[Sequence[str]]]) -> bytes:
    """sheets: list of 2D string grids."""
    strings: List[str] = []

    def sref(s: str) -> int:
        strings.append(s)
        return len(strings) - 1

    sheet_xmls = []
    for grid in sheets:
        rows = []
        for r, row in enumerate(grid, start=1):
            cells = "".join(
                f'<c r="{_col_ref(c)}{r}" t="s"><v>{sref(val)}</v></c>' for c, val in enumerate(row)
            )
            rows.append(f'<row r="{r}">{cells}</row>')
        sheet_xmls.append(f'<?xml version="1.0"?><worksheet {_SS}><sheetData>{"".join(rows)}</sheetData></worksheet>')
    shared = "".join(f"<si><t>{s}</t></si>" for s in strings)
    return zip_bytes(
        [
            ("[Content_Types].xml", "<Types/>"),
            ("xl/workbook.xml", f'<?xml version="1.0"?><workbook {_SS}/>'),
            (
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst {_SS} count="{len(strings)}">{shared}</sst>',
            ),
        ]
        + [(f"xl/worksheets/sheet{i}.xml", xml) for i, xml in enumerate(sheet_xmls, start=1)]
    )


def _pptx_shape(texts: Sequence[str]) -> str:
    """texts: plain strings, or tuples (text, bullet) where bullet is
    'auto:<type>' (a:buAutoNum), 'char:<c>' (a:buChar), optionally with a
    ':lvl<N>' suffix."""
    paras = []
    for t in texts:
        if isinstance(t, tuple):
            text, bullet = t
            lvl = ""
            if ":lvl" in bullet:
                bullet, _, n = bullet.rpartition(":lvl")
                lvl = f' lvl="{n}"'
            if bullet.startswith("auto:"):
                ppr = f'<a:pPr{lvl}><a:buAutoNum type="{bullet[5:]}"/></a:pPr>'
            elif bullet.startswith("char:"):
                ppr = f'<a:pPr{lvl}><a:buChar char="{bullet[5:]}"/></a:pPr>'
            else:
                ppr = f"<a:pPr{lvl}/>"
            paras.append(f"<a:p>{ppr}<a:r><a:t>{text}</a:t></a:r></a:p>")
        else:
            paras.append(f"<a:p><a:r><a:t>{t}</a:t></a:r></a:p>")
    return f"<p:sp><p:txBody>{''.join(paras)}</p:txBody></p:sp>"


def _pptx_table(rows: Sequence[Sequence[str]]) -> str:
    trs = "".join(
        "<a:tr>" + "".join(f"<a:tc><a:txBody><a:p><a:r><a:t>{c}</a:t></a:r></a:p></a:txBody></a:tc>" for c in row) + "</a:tr>"
        for row in rows
    )
    return f"<p:graphicFrame><a:tbl>{trs}</a:tbl></p:graphicFrame>"


def build_pptx(slides: Sequence[dict]) -> bytes:
    """slides: [{'shapes': [[line, ...], ...], 'table': [[...]] or None,
    'picture': 'image1.png' or None}] — picture emits a p:pic with an
    a:blip rel resolved through the slide's rels part."""
    members = [
        ("[Content_Types].xml", "<Types/>"),
        ("ppt/presentation.xml", f'<?xml version="1.0"?><p:presentation {_P} {_A}/>'),
    ]
    for i, slide in enumerate(slides, start=1):
        body = "".join(_pptx_shape(s) for s in slide.get("shapes", []))
        if slide.get("table"):
            body += _pptx_table(slide["table"])
        if slide.get("picture"):
            body += (
                '<p:pic xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
                '<p:blipFill><a:blip r:embed="rId2"/></p:blipFill></p:pic>'
            )
            members.append((
                f"ppt/slides/_rels/slide{i}.xml.rels",
                '<?xml version="1.0"?>'
                '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                f'<Relationship Id="rId2" Type="image" Target="../media/{slide["picture"]}"/>'
                "</Relationships>",
            ))
            members.append((f"ppt/media/{slide['picture']}", b"\x89PNG\r\n\x1a\n" + b"\x00" * 8))
        xml = f'<?xml version="1.0"?><p:sld {_P} {_A}><p:cSld><p:spTree>{body}</p:spTree></p:cSld></p:sld>'
        members.append((f"ppt/slides/slide{i}.xml", xml))
    return zip_bytes(members)


# --- legacy .xls (BIFF8 in an OLE2 compound file) ---------------------------


def _biff_rec(op: int, body: bytes) -> bytes:
    import struct

    return struct.pack("<HH", op, len(body)) + body


def build_xls(sheets: Sequence[Sequence[Sequence[object]]]) -> bytes:
    """Minimal BIFF8 workbook in a minimal OLE2 container: str cells become
    SST+LABELSST, numeric cells NUMBER records. One FAT sector, one
    directory sector, workbook stream in regular sectors (padded past the
    4096-byte mini-stream cutoff)."""
    import struct

    strings: List[str] = []
    index: dict = {}
    refs = 0
    for sheet in sheets:
        for row in sheet:
            for v in row:
                if isinstance(v, str):
                    refs += 1
                    if v not in index:
                        index[v] = len(strings)
                        strings.append(v)

    def bof(dt: int) -> bytes:
        return _biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0))

    sst_body = struct.pack("<II", refs, len(strings))
    for s in strings:
        sst_body += struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")
    sst = _biff_rec(0x00FC, sst_body)

    sheet_streams: List[bytes] = []
    for sheet in sheets:
        cells = b""
        for r, row in enumerate(sheet):
            for c, v in enumerate(row):
                if isinstance(v, str):
                    cells += _biff_rec(0x00FD, struct.pack("<HHHI", r, c, 0, index[v]))
                else:
                    cells += _biff_rec(0x0203, struct.pack("<HHHd", r, c, 0, float(v)))
        sheet_streams.append(bof(0x0010) + cells + _biff_rec(0x000A, b""))

    def boundsheet(offset: int, name: str) -> bytes:
        nm = name.encode("latin-1")
        return _biff_rec(0x0085, struct.pack("<IBBBB", offset, 0, 0, len(nm), 0) + nm)

    # two-pass: boundsheet bodies are fixed-size once names are fixed
    names = [f"Sheet{i + 1}" for i in range(len(sheets))]
    globals_size = len(bof(0x0005)) + sum(len(boundsheet(0, n)) for n in names) + len(sst) + 4
    offsets = []
    pos = globals_size
    for ss in sheet_streams:
        offsets.append(pos)
        pos += len(ss)
    workbook = (
        bof(0x0005)
        + b"".join(boundsheet(o, n) for o, n in zip(offsets, names))
        + sst
        + _biff_rec(0x000A, b"")
        + b"".join(sheet_streams)
    )
    assert len(workbook) == pos

    return build_ole2({"Workbook": workbook})


def build_ole2(streams: dict, sector_shift: int = 9) -> bytes:
    """Minimal OLE2 compound file holding the given {name: bytes} streams —
    every stream is padded past the 4096-byte mini-stream cutoff so all
    live in regular FAT sectors (one FAT sector, one directory sector).
    sector_shift=9 builds a v3 file (512-byte sectors); 12 builds v4
    (4096-byte sectors, header padded to a full sector per MS-CFB 2.2)."""
    import struct

    FREE, END, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    sector_size = 1 << sector_shift
    per_dir = sector_size // 128
    assert 1 + len(streams) <= per_dir, "one directory sector limit"

    padded: List[bytes] = []
    sizes: List[int] = []
    for data in streams.values():
        size = max(len(data), 4096)
        sizes.append(size)
        n_sec = (size + sector_size - 1) // sector_size
        padded.append(data.ljust(n_sec * sector_size, b"\x00"))

    fat = [FREE] * (sector_size // 4)
    fat[0] = FATSECT
    fat[1] = END  # directory
    starts: List[int] = []
    sector = 2
    for blob in padded:
        n_sec = len(blob) // sector_size
        starts.append(sector)
        for i in range(n_sec):
            fat[sector + i] = sector + i + 1 if i + 1 < n_sec else END
        sector += n_sec
    fat_sector = struct.pack(f"<{sector_size // 4}I", *fat)

    def dir_entry(name: str, etype: int, child: int, start: int, size: int) -> bytes:
        nm = name.encode("utf-16-le")
        e = nm.ljust(64, b"\x00")
        e += struct.pack("<HBB", len(nm) + 2, etype, 1)
        e += struct.pack("<III", FREE, FREE, child)
        e += b"\x00" * 16  # CLSID
        e += struct.pack("<I", 0)  # state
        e += b"\x00" * 16  # times
        e += struct.pack("<II", start, size)
        return e.ljust(128, b"\x00")

    empty = (
        b"\x00" * 64 + struct.pack("<HBB", 0, 0, 0)
        + struct.pack("<III", FREE, FREE, FREE) + b"\x00" * 48
    )
    entries = [dir_entry("Root Entry", 5, 1, END, 0)]
    for (name, _), start, size in zip(streams.items(), starts, sizes):
        entries.append(dir_entry(name, 2, FREE, start, size))
    while len(entries) < per_dir:
        entries.append(empty)
    directory = b"".join(entries)
    assert len(directory) == sector_size

    header = bytearray(512)
    header[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 3 if sector_shift == 9 else 4)  # major
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, sector_shift)
    struct.pack_into("<H", header, 32, 6)  # mini sector 64
    struct.pack_into("<I", header, 44, 1)  # one FAT sector
    struct.pack_into("<I", header, 48, 1)  # dir starts at sector 1
    struct.pack_into("<I", header, 56, 4096)  # mini cutoff
    struct.pack_into("<I", header, 60, END)  # no miniFAT
    struct.pack_into("<I", header, 64, 0)
    struct.pack_into("<I", header, 68, END)  # no DIFAT chain
    struct.pack_into("<I", header, 72, 0)
    struct.pack_into("<I", header, 76, 0)  # DIFAT[0] → FAT sector 0
    for i in range(1, 109):
        struct.pack_into("<I", header, 76 + 4 * i, FREE)

    # header occupies sector "-1": 512 bytes for v3, padded to a full
    # sector for v4 (MS-CFB 2.2)
    head = bytes(header).ljust(sector_size, b"\x00")
    return head + fat_sector + directory + b"".join(padded)


def build_doc(paragraphs: Sequence[str]) -> bytes:
    """Minimal [MS-DOC] binary: WordDocument stream (FIB + text area) and a
    0Table stream holding the Clx/piece table. Two pieces: the first
    paragraphs go into a cp1252-compressed piece, the rest (any Unicode)
    into a UTF-16LE piece, exercising both fc encodings."""
    import struct

    text = "\r".join(paragraphs) + "\r"
    # split: longest ascii-only prefix by paragraph → compressed piece
    split = 0
    cp = 0
    for i, p in enumerate(paragraphs):
        try:
            p.encode("cp1252")
        except UnicodeEncodeError:
            break
        split = i + 1
        cp += len(p) + 1
    part1, part2 = text[:cp], text[cp:]

    word = bytearray(2048)
    struct.pack_into("<H", word, 0, 0xA5EC)  # wIdent
    struct.pack_into("<H", word, 2, 0x00C1)  # nFib (Word 97)
    struct.pack_into("<H", word, 0x000A, 0)  # flags → 0Table
    text_off = 2048
    blob1 = part1.encode("cp1252")
    blob2 = part2.encode("utf-16-le")
    word_stream = bytes(word) + blob1 + blob2

    pieces = []
    if part1:
        pieces.append((len(part1), (text_off * 2) | 0x40000000))
    if part2:
        pieces.append((len(part2), text_off + len(blob1)))
    n = len(pieces)
    cps = [0]
    for ln, _ in pieces:
        cps.append(cps[-1] + ln)
    plc = struct.pack(f"<{n + 1}I", *cps)
    for _, fc in pieces:
        plc += struct.pack("<HIH", 0, fc, 0)  # PCD: flags, fc, prm
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    table = b"\x00" * 512 + clx  # Clx at offset 512
    struct.pack_into("<I", word, 154 + 33 * 8, 512)       # fcClx
    struct.pack_into("<I", word, 154 + 33 * 8 + 4, len(clx))  # lcbClx
    word_stream = bytes(word) + blob1 + blob2
    return build_ole2({"WordDocument": word_stream, "0Table": table})


def build_ppt(slide_texts: Sequence[str]) -> bytes:
    """Minimal [MS-PPT] binary: a container record wrapping one
    TextCharsAtom (UTF-16LE) per slide text."""
    import struct

    atoms = b""
    for t in slide_texts:
        body = t.encode("utf-16-le")
        atoms += struct.pack("<HHI", 0x0000, 0x0FA0, len(body)) + body
    container = struct.pack("<HHI", 0x000F, 0x03E8, len(atoms)) + atoms
    return build_ole2({"PowerPoint Document": container})


# --- OpenDocument fixtures ----------------------------------------------------

_ODF_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
    'xmlns:style="urn:oasis:names:tc:opendocument:xmlns:style:1.0" '
    'xmlns:fo="urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0"'
)

ODT_SPAN_STYLES = (
    '<style:style style:name="B1" style:family="text">'
    '<style:text-properties fo:font-weight="bold"/></style:style>'
    '<style:style style:name="I1" style:family="text">'
    '<style:text-properties fo:font-style="italic" style:text-underline-style="solid"/></style:style>'
)


def _odf_zip(mimetype: str, body: str, auto_styles: str = "") -> bytes:
    styles_part = f"<office:automatic-styles>{auto_styles}</office:automatic-styles>" if auto_styles else ""
    content = (
        f'<?xml version="1.0"?><office:document-content {_ODF_NS}>'
        f"{styles_part}<office:body>{body}</office:body></office:document-content>"
    )
    return zip_bytes([("mimetype", mimetype), ("content.xml", content)])


def build_odt(items: Sequence[tuple]) -> bytes:
    """items: ('h', level, text) | ('p', text) | ('list', [text, ...])"""
    parts = []
    for item in items:
        if item[0] == "h":
            parts.append(f'<text:h text:outline-level="{item[1]}">{item[2]}</text:h>')
        elif item[0] == "p":
            parts.append(f"<text:p>{item[1]}</text:p>")
        elif item[0] == "list":
            lis = "".join(f"<text:list-item><text:p>{t}</text:p></text:list-item>" for t in item[1])
            parts.append(f"<text:list>{lis}</text:list>")
        elif item[0] == "raw":  # raw office:text XML (spans etc.)
            parts.append(item[1])
    return _odf_zip(
        "application/vnd.oasis.opendocument.text",
        f"<office:text>{''.join(parts)}</office:text>",
        auto_styles=ODT_SPAN_STYLES,
    )


def build_ods(sheets: Sequence[Sequence[Sequence[str]]]) -> bytes:
    out = []
    for si, sheet in enumerate(sheets):
        rows = "".join(
            "<table:table-row>"
            + "".join(f"<table:table-cell><text:p>{c}</text:p></table:table-cell>" for c in row)
            + "</table:table-row>"
            for row in sheet
        )
        out.append(f'<table:table table:name="S{si}">{rows}</table:table>')
    return _odf_zip(
        "application/vnd.oasis.opendocument.spreadsheet",
        f"<office:spreadsheet>{''.join(out)}</office:spreadsheet>",
    )


def build_odp(slides: Sequence[Sequence[str]]) -> bytes:
    pages = "".join(
        '<draw:page><draw:frame><draw:text-box>'
        + "".join(f"<text:p>{t}</text:p>" for t in texts)
        + "</draw:text-box></draw:frame></draw:page>"
        for texts in slides
    )
    return _odf_zip(
        "application/vnd.oasis.opendocument.presentation",
        f"<office:presentation>{pages}</office:presentation>",
    )


def build_summary_info(fields: dict) -> bytes:
    """\\x05SummaryInformation property-set stream ([MS-OLEPS] subset):
    VT_LPSTR strings + VT_FILETIME for created/modified unix timestamps."""
    import struct

    pidsi = {"title": 2, "subject": 3, "author": 4, "keywords": 5,
             "comments": 6, "last_saved_by": 8, "created_time": 12, "modified_time": 13}
    props = []
    for name, value in fields.items():
        pid = pidsi[name]
        if name in ("created_time", "modified_time"):
            ft = (int(value) + 11644473600) * 10_000_000
            props.append((pid, struct.pack("<IQ", 0x0040, ft)))
        else:
            s = str(value)
            try:
                raw = s.encode("cp1252") + b"\x00"
                body = struct.pack("<II", 0x001E, len(raw)) + raw  # VT_LPSTR
            except UnicodeEncodeError:
                raw = (s + "\x00").encode("utf-16-le")
                body = struct.pack("<II", 0x001F, len(s) + 1) + raw  # VT_LPWSTR
            body += b"\x00" * (-len(body) % 4)
            props.append((pid, body))
    header_size = 8 + 8 * len(props)
    offsets = []
    pos = header_size
    for _, body in props:
        offsets.append(pos)
        pos += len(body)
    section = struct.pack("<II", pos, len(props))
    for (pid, _), off in zip(props, offsets):
        section += struct.pack("<II", pid, off)
    section += b"".join(body for _, body in props)
    fmtid = bytes(16)
    stream = struct.pack("<HHI", 0xFFFE, 0, 0x00020006) + bytes(16) + struct.pack("<I", 1)
    stream += fmtid + struct.pack("<I", len(stream) + 20)
    stream += section
    return stream
