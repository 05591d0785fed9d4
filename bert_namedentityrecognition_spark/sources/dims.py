"""Dimension-table builders — the knowledge-base scans of SURVEY §2.1.

The reference loads Manbyo CSV / Hyakuyaku CSV / MedDRA SQLite / OICI Excel
into in-memory pandas frames per process (``knowledge_bases/*``). Here each
becomes a one-time export into the canonical ``entity_dim`` shape
(FIXTURES.md §4) — a small broadcast-side DataFrame:

    entity_dim(entity_id, surface, canonical, code, kind, human_check)

- ``dim_from_csv``      — Manbyo/Hyakuyaku-style CSV with column mapping
- ``dim_from_sqlite``   — MedDRA-style SQLite (stdlib sqlite3 → Arrow)
- ``two_hop_dim``       — the LLT→PT canonical hop
  (``knowledge_bases/meddra.py:149-164``: ``llt INNER JOIN pt_j ON
  llt.pt_code = pt_j.pt_code``) pre-joined into one flat dimension so the
  runtime pays a single broadcast join instead of two
- ``dim_from_excel``    — OICI-style Excel, gated on an engine being present

Every frame built from rows held on the driver goes through
:func:`local_frame`, so it plans as a ``LocalTableScan`` with size stats
instead of a Python-RDD ``Scan ExistingRDD``.
"""

from __future__ import annotations

import sqlite3

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DIM_SCHEMA = (
    "entity_id string, surface string, canonical string, code string, "
    "kind string, human_check string"
)


def local_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """Driver-held rows (tuples in schema order, or dicts) → DataFrame.

    Goes through Arrow, so the plan is a ``LocalTableScan``: scanning it runs
    no Python task (``createDataFrame(list)`` plans a ``Scan ExistingRDD``
    whose every scan does), and the optimizer sees its size, so joins
    against it broadcast. An empty ``rows`` keeps the schema."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    records = [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def dim_from_csv(
    spark: SparkSession,
    path: str,
    surface_col: str,
    canonical_col: str,
    code_col: str | None = None,
    kind: str = "symptom",
    id_prefix: str = "ENT",
) -> DataFrame:
    """CSV → entity_dim (Manbyo: 出現形→標準病名/ICD; Hyakuyaku: 出現形→一般名).

    entity_id is CONTENT-derived (hash of the surface), not
    monotonically_increasing_id: the latter encodes partition id + offset,
    so the same CSV loaded twice (or split differently) produced different
    ids for the same surface — silently mismatching every artifact keyed
    on entity_id across runs. Duplicate surfaces keep the
    value-deterministic min (canonical, code) row, not an arbitrary one."""
    df = spark.read.option("header", "true").csv(path)
    out = df.select(
        F.concat(
            F.lit(id_prefix),
            F.format_string("%016x", F.xxhash64(F.col(surface_col))),
        ).alias("entity_id"),
        F.col(surface_col).alias("surface"),
        F.col(canonical_col).alias("canonical"),
        (F.col(code_col) if code_col else F.lit(None).cast("string")).alias("code"),
        F.lit(kind).alias("kind"),
        F.lit(None).cast("string").alias("human_check"),
    ).filter(F.col("surface").isNotNull())
    w = Window.partitionBy("surface").orderBy(
        F.col("canonical").asc_nulls_last(), F.col("code").asc_nulls_last()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dim_from_sqlite(
    spark: SparkSession, path: str, query: str, kind: str = "symptom"
) -> DataFrame:
    """SQLite → DataFrame via stdlib sqlite3 (one-time dim export; the
    production path is spark.read.jdbc or a prebuilt Iceberg table).

    ``query`` must project (entity_id, surface, canonical, code)."""
    with sqlite3.connect(path) as con:
        cur = con.execute(query)
        cols = [d[0] for d in cur.description]
        rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    for r in rows:
        r.setdefault("code", None)
        r["kind"] = kind
        r["human_check"] = None
        # sqlite columns are often INTEGER (MedDRA llt/pt codes) while the
        # dim schema is all-string — a string column rejects ints, so
        # coerce the projected values
        for k in ("entity_id", "surface", "canonical", "code"):
            if r.get(k) is not None and not isinstance(r[k], str):
                r[k] = str(r[k])
    return local_frame(spark, rows, DIM_SCHEMA)


def sqlite_query_df(
    spark: SparkSession, path: str, query: str, schema: str
) -> DataFrame:
    """Generic SQLite scan: stdlib sqlite3 export → DataFrame with an
    explicit schema. Driver-side by design — SQLite dims are small
    (MedDRA ~80k LLT rows); at scale the same query goes through
    ``spark.read.jdbc`` or a pre-exported parquet/Iceberg table.
    ``dim_from_sqlite`` layers the entity-dim projection/coercion on top
    of the same connect/execute kernel."""
    with sqlite3.connect(path) as con:
        rows = con.execute(query).fetchall()
    return local_frame(spark, rows, schema)


def two_hop_dim(llt: DataFrame, pt: DataFrame) -> DataFrame:
    """Pre-join the two-step canonical hop (surface→LLT→PT) into one
    dimension: the runtime then needs a single broadcast equi-join.

    llt(llt_code, surface, pt_code), pt(pt_code, pt_name) →
    entity_dim rows with canonical = pt_name, code = pt_code.

    Surface collisions (two LLTs sharing a surface) are resolved
    VALUE-deterministically — min (canonical, entity_id, code), nulls
    last, same ordering as ``normalize.build_dim_index`` — not by
    ``dropDuplicates`` row order, which is not stable distributed."""
    joined = llt.join(F.broadcast(pt), "pt_code", "left").select(
        F.col("llt_code").cast("string").alias("entity_id"),
        F.col("surface"),
        F.coalesce(F.col("pt_name"), F.col("surface")).alias("canonical"),
        F.col("pt_code").cast("string").alias("code"),
        F.lit("symptom").alias("kind"),
        F.lit(None).cast("string").alias("human_check"),
    )
    w = Window.partitionBy("surface").orderBy(
        F.col("canonical").asc_nulls_last(),
        F.col("entity_id").asc_nulls_last(),
        F.col("code").asc_nulls_last(),
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _xlsx_col_index(cell_ref: str) -> int:
    """'A1' → 0, 'AB3' → 27 (column letters of an xlsx cell reference)."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _xlsx_sheet_order(zf) -> list[str]:
    """Worksheet part names in the workbook's DECLARED order: resolve
    ``xl/workbook.xml``'s <sheet r:id=…> sequence through the workbook
    rels. Fallback for files missing either part: sort by the numeric
    suffix of the filename — plain ``sorted()`` would put sheet10.xml
    before sheet2.xml and select the wrong sheet past 9 sheets."""
    import re
    import xml.etree.ElementTree as ET

    names = set(zf.namelist())
    try:
        rels_root = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
        targets = {
            r.get("Id"): r.get("Target") for r in rels_root.iter(f"{rel_ns}Relationship")
        }
        wb_root = ET.fromstring(zf.read("xl/workbook.xml"))
        main_ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
        rid_attr = (
            "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        )
        ordered = []
        for sheet in wb_root.iter(f"{main_ns}sheet"):
            target = targets.get(sheet.get(rid_attr), "").lstrip("/")
            part = target if target.startswith("xl/") else f"xl/{target}"
            if part in names:
                ordered.append(part)
        if ordered:
            return ordered
    except KeyError:
        pass

    def numkey(n: str):
        m = re.search(r"(\d+)\.xml$", n)
        return (int(m.group(1)) if m else 0, n)

    return sorted(
        (
            n for n in names
            if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")
        ),
        key=numkey,
    )


def read_xlsx_rows(path: str, sheet_index: int = 0) -> list[dict]:
    """Minimal self-contained .xlsx scan (stdlib zipfile + ElementTree) —
    xlsx is a zip of XML, so no Excel engine is needed. Reads one sheet:
    first row = header, remaining rows → dicts (missing cells → None).

    Handles shared strings (``t="s"``), inline strings (``t="inlineStr"``),
    and raw values. Driver-side by design: OICI-style dictionaries are
    dimension tables (``knowledge_bases/OICI_database.py:8-20``), small
    enough to parse once and broadcast."""
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"
                )))
        sheets = _xlsx_sheet_order(zf)
        if sheet_index >= len(sheets):
            raise ValueError(f"{path}: no sheet index {sheet_index}")
        root = ET.fromstring(zf.read(sheets[sheet_index]))
        grid: list[dict[int, str]] = []
        for row in root.iter(
            "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}row"
        ):
            cells: dict[int, str] = {}
            for c in row.findall("m:c", ns):
                ref = c.get("r", "")
                ci = _xlsx_col_index(ref) if ref else len(cells)
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find("m:is", ns)
                    val = "".join(t.text or "" for t in is_el.iter(
                        "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"
                    )) if is_el is not None else None
                else:
                    v = c.find("m:v", ns)
                    val = v.text if v is not None else None
                    if val is not None and ctype == "s":
                        val = shared[int(val)]
                if val is not None:
                    cells[ci] = val
            grid.append(cells)
    if not grid:
        return []
    header = grid[0]
    cols = {ci: name for ci, name in header.items()}
    return [
        {name: r.get(ci) for ci, name in cols.items()}
        for r in grid[1:]
    ]


def dim_from_excel(
    spark: SparkSession,
    path: str,
    surface_col: str = "word",
    human_check_col: str = "human_check",
    kind: str = "symptom",
) -> DataFrame:
    """OICI-style Excel scan (``knowledge_bases/OICI_database.py:8-20``).

    Uses a pandas Excel engine when one is installed; otherwise falls back
    to the stdlib zip+XML reader (:func:`read_xlsx_rows`), so the path is
    executable with no extra dependency."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path)
        records = pdf.to_dict("records")
        records = [
            {k: (None if v != v else v) for k, v in r.items()} for r in records
        ]  # NaN → None (the reference's NaN-skip idiom)
    except ImportError:
        records = read_xlsx_rows(path)
    rows = [
        {
            "entity_id": f"OICI{i}",
            "surface": str(r[surface_col]),
            "canonical": None if r.get(human_check_col) is None else str(r[human_check_col]),
            "code": None,
            "kind": kind,
            "human_check": None if r.get(human_check_col) is None else str(r[human_check_col]),
        }
        for i, r in enumerate(records)
        if r.get(surface_col) is not None
    ]
    return local_frame(spark, rows, DIM_SCHEMA)
