"""S8 — Excel (.xlsx) sink, dependency-free.

The reference converts every crawled CSV to .xlsx with pandas/openpyxl and
deletes the source on success (converter.py:31-47); earlier rounds declared
this out of engine scope because the container has no openpyxl. But .xlsx
is just a zip of SpreadsheetML parts, so this module writes the minimal
conforming package ([Content_Types].xml, package/workbook rels, one
worksheet with inline strings) with nothing beyond the stdlib — closing the
last SURVEY §2 gap for real instead of by declaration.

Scale posture (honest): an .xlsx worksheet is hard-capped by the format at
1,048,576 rows — it is a REPORT artifact, not a data sink. ``write_df_xlsx``
therefore streams the DataFrame through the driver partition-by-partition
(toLocalIterator — O(partition) driver memory) and refuses anything over
the format limit rather than silently truncating. Bulk egress stays
parquet/CSV; this sink exists for the reference's end-user deliverable.

Verified without openpyxl by unzipping and XML-parsing what we wrote
(tests/test_xlsx_sink.py); the format details follow ECMA-376 (public).
"""

from __future__ import annotations

import csv
import glob
import math
import os
import re
import warnings
import zipfile
from xml.sax.saxutils import escape

# XML 1.0 forbids C0 control characters other than tab/newline/CR; scraped
# text DOES contain them (form feeds, NULs), and an unreadable workbook
# after convert_csv_dir deleted its source would be data loss — replace
# with U+FFFD rather than corrupt the sheet
_XML_ILLEGAL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")

# the SpreadsheetML worksheet hard limit (2^20 rows, header included)
XLSX_MAX_ROWS = 1_048_576

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _col_letter(i: int) -> str:
    """0-based column index → A, B, …, Z, AA, AB, …"""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):  # bool is an int subclass — dispatch first
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        # NaN/±inf → blank: xsd:double has no 'nan'/'inf' spelling repr
        # would emit, and this repo's own psnr() returns inf for lossless
        if isinstance(value, float) and not math.isfinite(value):
            return ""
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    text = escape(_XML_ILLEGAL.sub("�", str(value)))
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{text}</t></is></c>'


def _row_xml(row_idx: int, values) -> str:
    cells = "".join(
        _cell_xml(f"{_col_letter(c)}{row_idx}", v) for c, v in enumerate(values)
    )
    return f'<row r="{row_idx}">{cells}</row>'


def write_xlsx(path: str, columns: list[str], rows) -> int:
    """Write header + ``rows`` (any iterable of sequences) as a single-sheet
    .xlsx; returns the number of data rows written. Streams: the worksheet
    part is built row-by-row into the zip entry, so memory is O(row), and
    the format's own row cap is enforced (never silently truncated)."""
    tmp = f"{path}.{os.getpid()}.tmp"
    n = 0
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("[Content_Types].xml", _CONTENT_TYPES)
            z.writestr("_rels/.rels", _ROOT_RELS)
            z.writestr("xl/workbook.xml", _WORKBOOK)
            z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
            with z.open("xl/worksheets/sheet1.xml", "w") as sheet:
                sheet.write(
                    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                    b'<worksheet xmlns="http://schemas.openxmlformats.org/'
                    b'spreadsheetml/2006/main"><sheetData>'
                )
                sheet.write(_row_xml(1, columns).encode("utf-8"))
                for row in rows:
                    n += 1
                    if n + 1 > XLSX_MAX_ROWS:
                        raise ValueError(
                            f"xlsx worksheet cap is {XLSX_MAX_ROWS} rows "
                            "(incl. header); write parquet/CSV for bulk data"
                        )
                    sheet.write(_row_xml(n + 1, row).encode("utf-8"))
                sheet.write(b"</sheetData></worksheet>")
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return n


def write_df_xlsx(df, path: str) -> int:
    """Spark DataFrame → .xlsx report. Streams partitions through the
    driver one at a time (toLocalIterator) — never a full collect — and
    inherits write_xlsx's format-limit guard."""
    return write_xlsx(path, list(df.columns), (tuple(r) for r in df.toLocalIterator()))


def _coerce_cell(v: str):
    """csv.reader yields str for everything; the reference converter
    (pandas read_csv → to_excel) emits numeric columns as NUMBER cells.
    Parse int-then-float so '42' / '3.14' round-trip typed; anything else
    (incl. 'N/A', dates, leading-'+' phone-ish strings) stays text."""
    try:
        return int(v)
    except ValueError:
        pass
    try:
        f = float(v)
    except ValueError:
        return v
    # 'nan'/'inf' literals parse as float but pandas would keep them textual
    # unless NA-listed; a blank cell would silently lose the source token
    return f if math.isfinite(f) else v


def convert_csv_dir(target_dir: str) -> int:
    """The reference's S8 semantics (converter.py:31-47): every ``*.csv``
    in ``target_dir`` (utf-8-sig, the CSV sink's own encoding) becomes a
    sibling ``.xlsx``; the CSV is removed only after its conversion
    succeeded, and — like the reference's per-file loop — one failing file
    is reported and skipped (its source kept) while the rest convert.
    Returns the number of files converted."""
    done = 0
    for csv_path in sorted(glob.glob(os.path.join(target_dir, "*.csv"))):
        try:
            with open(csv_path, newline="", encoding="utf-8-sig") as f:
                reader = csv.reader(f)
                header = next(reader, None)
                if header is None:
                    continue  # headerless/empty file: leave it alone
                write_xlsx(
                    os.path.splitext(csv_path)[0] + ".xlsx",
                    header,
                    ([_coerce_cell(v) for v in row] for row in reader),
                )
        except Exception as e:  # noqa: BLE001 — per-file isolation
            warnings.warn(f"convert_csv_dir: {csv_path} failed ({e}); kept")
            continue
        os.remove(csv_path)
        done += 1
    return done
