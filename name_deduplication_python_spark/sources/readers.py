"""Tolerant table readers (SURVEY §2.1 S1/S2, §2.2 P4).

The reference loads user files with permissive pandas CSV parsing, all
columns as strings, dropping all-null rows
(/root/reference/main.py:634-640). Spark equivalents below. Excel (S2,
/root/reference/main.py:639-640): no JVM connector in this container, so
`.xlsx` is parsed with a minimal stdlib reader (zipfile + ElementTree —
an xlsx IS a zip of XML) on the driver and parallelized; user uploads in
the reference are small driver-side files, so this matches the workload.
Legacy binary `.xls` (OLE2) stays a documented stub.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _xlsx_rows(path: str, sheet_index: int = 0) -> list[list[str]]:
    """Parse one worksheet of an .xlsx into string rows (stdlib only).

    Handles shared strings, inline strings, and numeric cells (rendered
    as their literal text, trailing '.0' stripped like pandas dtype=str
    on integers). Formulas yield their cached value."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        # sort worksheets by NUMERIC suffix: lexicographic filename order
        # puts sheet10.xml before sheet2.xml, so sheet_index would pick the
        # wrong sheet in 10+-sheet workbooks (matches workbook.xml order for
        # the standard writer layout, where sheetN.xml is the Nth sheet)
        sheets = sorted(
            (
                n
                for n in z.namelist()
                if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
            ),
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)),
        )
        if not sheets:
            raise ValueError(f"no worksheets in {path}")
        root = ET.fromstring(z.read(sheets[sheet_index]))
        rows: list[list[str]] = []
        for row in root.iter(f"{_XLSX_NS}row"):
            cells: dict[int, str] = {}
            for c in row.findall(f"{_XLSX_NS}c"):
                ref = c.get("r", "")
                col = 0
                for ch in ref:
                    if ch.isalpha():
                        col = col * 26 + (ord(ch.upper()) - 64)
                    else:
                        break
                col -= 1
                ctype = c.get("t", "n")
                if ctype == "s":
                    v = c.find(f"{_XLSX_NS}v")
                    val = shared[int(v.text)] if v is not None else ""
                elif ctype == "inlineStr":
                    val = "".join(
                        t.text or "" for t in c.iter(f"{_XLSX_NS}t")
                    )
                else:
                    v = c.find(f"{_XLSX_NS}v")
                    val = v.text if v is not None and v.text else ""
                    if "e" in val.lower() and re.fullmatch(
                        r"[-+]?\d*\.?\d+[eE][-+]?\d+", val
                    ):
                        # scientific notation: render like pandas dtype=str
                        # (via float), e.g. 1.23E+05 -> 123000.0
                        val = repr(float(val))
                    if val.endswith(".0"):
                        val = val[:-2]
                cells[col] = val
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i, "") for i in range(width)])
        return rows


def read_xlsx(
    spark: SparkSession, path: str, header: bool = True, sheet_index: int = 0
) -> DataFrame:
    """S2 Excel scan: stdlib xlsx parse -> string-typed DataFrame, all-
    empty rows dropped (P4), mirroring pd.read_excel(dtype=str)."""
    rows = _xlsx_rows(path, sheet_index)
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    if header:
        cols, data = rows[0], rows[1:]
        cols = [c if c else f"_c{i}" for i, c in enumerate(cols)]
    else:
        cols, data = [f"_c{i}" for i in range(width)], rows
    data = [r for r in data if any(x.strip() for x in r)]
    df = spark.createDataFrame(
        data or [[""] * width][:0],
        ", ".join(f"`{c}` string" for c in cols),
    )
    return df


def read_table(
    spark: SparkSession,
    path: str,
    sep: str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV/TSV/TXT/parquet/xlsx scan, string-typed, PERMISSIVE, all-null
    rows dropped (S1 + S2 + P4). sep inferred from extension when not
    given."""
    lower = path.lower()
    if lower.endswith(".parquet"):
        return spark.read.parquet(path)
    if lower.endswith((".warc", ".warc.gz")):
        from .warc import read_warc

        return read_warc(spark, path)
    if lower.endswith(".xlsx"):
        return read_xlsx(spark, path, header=header)
    if lower.endswith(".xls"):
        raise NotImplementedError(
            "legacy binary .xls (OLE2) needs an external reader; save as "
            ".xlsx or CSV (the .xlsx path is supported natively)"
        )
    if sep is None:
        sep = "\t" if lower.endswith((".tsv", ".txt")) else ","
    df = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path, sep=sep, inferSchema=False)
    )
    return df.na.drop("all")


def _xlsx_sheet_names(path: str) -> list[str]:
    """Sheet names in workbook order from xl/workbook.xml (empty list if
    the workbook part is absent — minimal writers omit it). Pairs with
    _xlsx_rows' numeric-suffix sort: for the standard writer layout
    sheetN.xml is the Nth listed sheet."""
    with zipfile.ZipFile(path) as z:
        if "xl/workbook.xml" not in z.namelist():
            return []
        root = ET.fromstring(z.read("xl/workbook.xml"))
        return [s.get("name") or "" for s in root.iter(f"{_XLSX_NS}sheet")]


_REPORT_SECTIONS = (
    ("Officials Found", "officials"),
    ("Linked Records", "linking"),
    ("Duplicates Found", "dedupe"),
)


def load_report_sections(
    spark: SparkSession, path: str, sheet_name: str = "Analysis Report"
) -> dict[str, DataFrame]:
    """S9 report re-scan (closes the SURVEY §2.1 S9 descope): parse a
    sectioned report sheet back into DataFrames, the auditor's re-ingest
    path (/root/reference/auditor.py:144-207: `load_report_sections` /
    `_read_section`).

    Reference semantics kept: sections start at a `--- <title> ---` row
    in column A and are classified by title substring (Officials Found /
    Linked Records / Duplicates Found — unknown sections skipped); the
    next row is the header (trailing empties trimmed); data rows run
    until a blank row or the next section marker; only non-empty
    sections are returned, string-typed with '' for missing cells
    (reference `fillna('')`). The sheet is resolved BY NAME via
    xl/workbook.xml when present, erroring like the reference if the
    named sheet is missing. Reports are driver-sized presentation
    artifacts (the engine's own results live in stage tables — resume
    reads those); this scan exists so desktop-tool reports remain
    auditable inputs."""
    names = _xlsx_sheet_names(path)
    if names:
        if sheet_name not in names:
            raise ValueError(f'sheet "{sheet_name}" not found in {path}')
        idx = names.index(sheet_name)
    else:
        idx = 0
    rows = _xlsx_rows(path, idx)
    sections: dict[str, DataFrame] = {}
    r = 0
    while r < len(rows):
        first = rows[r][0] if rows[r] else ""
        if not first.startswith("--- "):
            r += 1
            continue
        key = next((k for sub, k in _REPORT_SECTIONS if sub in first), None)
        if key is None or r + 1 >= len(rows):
            r += 1
            continue
        headers = list(rows[r + 1])
        while headers and not headers[-1].strip():
            headers.pop()
        cols = [h.strip() if h.strip() else f"_c{i}" for i, h in enumerate(headers)]
        data: list[list[str]] = []
        i = r + 2
        while i < len(rows):
            row = rows[i]
            f0 = row[0] if row else ""
            if f0.startswith("--- ") or not any(x.strip() for x in row):
                break
            data.append([row[c] if c < len(row) else "" for c in range(len(cols))])
            i += 1
        if data and cols:
            sections[key] = spark.createDataFrame(
                data, ", ".join(f"`{c}` string" for c in cols)
            )
        r = i  # blank spacer rows don't match '--- ', scanning resumes safely
    return sections


def read_encrypted_csv(
    spark: SparkSession,
    path: str,
    key: bytes | str,
    sep: str = ",",
    ttl: int | None = None,
) -> DataFrame:
    """S3 encrypted cached CSV scan (closes the SURVEY §2.1 S3 descope).

    The reference decrypts a Fernet-encrypted cache file and parses it
    with permissive pandas CSV, all columns string
    (/root/reference/data_utils.py:427-443: `load_raw_file`). Spark
    shape: `binaryFile` lists/loads the files, each file's payload is
    verified + decrypted + parsed INSIDE `mapInPandas` (Arrow batches,
    one row per file), so a directory of encrypted caches decrypts in
    parallel across executors. Fernet is a whole-payload MAC — per-file
    is the finest decryption grain the format allows, which fits the
    workload: encrypted caches are small side tables (master/officials
    lists), not the 100 TB corpus. Schema is discovered by decrypting
    the FIRST file on the driver (same single-file inference pass
    `spark.read.csv(inferSchema)` performs); every file is then
    reindexed to those columns, missing ones null — mirroring the
    reference's single-file cache contract while tolerating ragged
    directories. A tampered, wrong-key or (with ``ttl``) expired file
    raises cryptography.fernet.InvalidToken (never a partial parse).
    """
    import io

    import pandas as pd
    from cryptography.fernet import Fernet

    files = spark.read.format("binaryFile").load(path)
    first = files.select("content").head()
    if first is None:
        raise ValueError(f"no files under {path}")

    def _parse(content: bytes) -> pd.DataFrame:
        text = Fernet(key).decrypt(bytes(content), ttl).decode(errors="ignore")
        return pd.read_csv(
            io.StringIO(text), dtype=str, engine="python", on_bad_lines="warn"
        )

    cols = [str(c) for c in _parse(first["content"]).columns]
    schema = ", ".join(f"`{c}` string" for c in cols)

    def _decrypt_files(batches):
        for pdf in batches:
            for content in pdf["content"]:
                out = _parse(content).reindex(columns=cols)
                yield out.astype({c: "string" for c in cols})

    df = files.select("content").mapInPandas(_decrypt_files, schema=schema)
    return df.na.drop("all")


def with_row_provenance(df: DataFrame, source: str) -> DataFrame:
    """C14 analog done right: typed (source, row_id) lineage columns
    instead of the reference's 'userfile {idx+2}' strings
    (/root/reference/analysis_engine.py:601)."""
    return df.select(
        F.lit(source).alias("src_table"),
        F.monotonically_increasing_id().alias("src_row_id"),
        "*",
    )
