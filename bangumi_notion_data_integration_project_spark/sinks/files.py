"""File sinks: CSV (K2) and bounded multi-sheet Excel (K1).

Reference: export_data writes 3 CSVs with utf-8-sig BOM for Excel
compatibility (bangumi_data_ingestion.py:522-524) and a 3-sheet
workbook with column autofit (:479-516).

Scale stance: CSV goes through the distributed writer (one file per
partition; ``single_file=True`` coalesces — only for presentation-sized
outputs). Excel is inherently a driver-side presentation sink, so it is
bounded by ``max_rows`` and collected via Arrow.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UTF8_BOM = b"\xef\xbb\xbf"


def write_csv(
    df: DataFrame,
    path: str,
    *,
    single_file: bool = False,
    bom: bool = False,
    header: bool = True,
) -> str:
    """Distributed CSV write; optionally coalesce to one file + BOM.

    Complex columns (arrays/maps/structs) are JSON-stringified first —
    the same boundary rule as the reference's list→JSON pre-pass
    (prepare_dataframe_for_mysql, data_loading_to_mysql_database.py:73-96).
    """
    out = df
    for name, dtype in df.dtypes:
        if dtype.startswith(("array", "map", "struct")):
            out = out.withColumn(name, F.to_json(name))
    writer = (out.coalesce(1) if single_file else out).write.mode("overwrite")
    writer.option("header", str(header).lower()).option("encoding", "UTF-8").csv(path)
    if single_file:
        part = glob.glob(os.path.join(path, "part-*.csv"))[0]
        final = path.rstrip("/") + ".csv"
        if bom:
            with open(final, "wb") as dst:
                dst.write(UTF8_BOM)
                with open(part, "rb") as src:
                    shutil.copyfileobj(src, dst)
        else:
            shutil.move(part, final)
        shutil.rmtree(path)
        return final
    return path


def write_excel(
    sheets: dict[str, DataFrame],
    path: str,
    *,
    max_rows: int = 100_000,
    autofit: bool = True,
) -> str:
    """Bounded multi-sheet Excel export (driver-side, Arrow collect).

    Raises NotImplementedError when no Excel engine (openpyxl/xlsxwriter)
    is installed, before collecting anything — the Spark-side plumbing
    (bounding, collection, column sizing) is real and tested via the
    ``_sheet_frames`` helper.
    """
    try:
        import openpyxl  # noqa: F401

        engine = "openpyxl"
    except ImportError:
        try:
            import xlsxwriter  # noqa: F401

            engine = "xlsxwriter"
        except ImportError as e:
            raise NotImplementedError(
                "Excel export requires openpyxl or xlsxwriter (not installed in "
                "this environment); CSV sink covers the data path"
            ) from e
    import pandas as pd

    frames = _sheet_frames(sheets, max_rows)
    with pd.ExcelWriter(path, engine=engine) as writer:
        for name, pdf in frames.items():
            pdf.to_excel(writer, sheet_name=name[:31], index=False)
            if autofit and engine == "openpyxl":
                ws = writer.sheets[name[:31]]
                for i, col in enumerate(pdf.columns):
                    width = max([len(str(col))] + [len(str(v)) for v in pdf[col].head(200)])
                    ws.column_dimensions[ws.cell(1, i + 1).column_letter].width = min(
                        width + 2, 80
                    )
    return path


def _sheet_frames(sheets: dict[str, DataFrame], max_rows: int):
    """Bound + collect each sheet (kept separate so tests can exercise
    the Spark-side logic without an Excel engine)."""
    out = {}
    for name, df in sheets.items():
        bounded = df.limit(max_rows)
        for cname, dtype in bounded.dtypes:
            if dtype.startswith(("array", "map", "struct")):
                bounded = bounded.withColumn(cname, F.to_json(cname))
        out[name] = bounded.toPandas()
    return out
