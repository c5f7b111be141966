"""Local DuckDB-oracle comparison harness, mimicking the driver gate.

The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB (tables pre-registered as views) and
compares row-count + schema + order-insensitive value-hash. This
module reproduces that check locally so mismatches are caught in
pytest before a round ends.
"""

from __future__ import annotations

import math
import os
import tempfile
import uuid
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import SparkSession

from wire_spark.engine import TABLES, table_path


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for i in self.issues[:8]:
            msg += f"\n    - {i}"
        return msg


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # DuckDB spills to ``.tmp`` under the working directory by default;
    # give each connection its own absolute directory, which DuckDB
    # creates on the first spill and removes when the connection closes.
    spill = os.path.join(tempfile.gettempdir(), f"wire_spark_duckdb_{uuid.uuid4().hex}")
    con = duckdb.connect(config={"temp_directory": spill})
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _norm(v):
    """Normalize a cell for comparison (mirrors a value-hash: exact,
    except float NaN and -0.0 canonicalization)."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    return v


def _unsafe_types(sdf, con, oracle: str) -> list[str]:
    """Declared result types whose value-hash diverges between engines
    even when Python-level values are equal — the round-3/4 failure
    class. DuckDB ``sum()`` over integers yields HUGEINT (int128) and
    bare decimal literals yield DECIMAL; Spark DecimalType renders
    differently from double. Both must be cast away in the query/
    oracle, so the local gate flags them instead of silently passing
    the coerced Python values.
    """
    issues = []
    rel = con.sql(oracle)
    hug = [
        f"{c}:{t}"
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
    ]
    if hug:
        issues.append(f"oracle driver-unsafe output types (CAST them): {hug}")
    dec = [f"{f.name}:{f.dataType}" for f in sdf.schema.fields
           if type(f.dataType).__name__ == "DecimalType"]
    if dec:
        issues.append(f"spark driver-unsafe output types (cast to double/long): {dec}")
    return issues


def compare_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    name: str,
    fn,
    oracle: str,
    sf_dir: str,
) -> CompareResult:
    sdf = fn(spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(_norm(r[c]) for c in spark_cols) for r in sdf.collect()]

    type_issues = _unsafe_types(sdf, con, oracle)
    ores = con.execute(oracle)
    o_cols = [d[0] for d in ores.description]
    o_raw = ores.fetchall()
    o_sorted_idx = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    oracle_cols = sorted(o_cols)
    oracle_rows = [tuple(_norm(row[i]) for i in o_sorted_idx) for row in o_raw]

    issues: list[str] = list(type_issues)
    if spark_cols != oracle_cols:
        issues.append(f"schema: spark={spark_cols} oracle={oracle_cols}")
    if len(spark_rows) != len(oracle_rows):
        issues.append(f"rowcount: spark={len(spark_rows)} oracle={len(oracle_rows)}")
    if not issues:
        s_sorted = sorted(spark_rows, key=repr)
        o_sorted = sorted(oracle_rows, key=repr)
        n_diff = 0
        for a, b in zip(s_sorted, o_sorted):
            if a != b:
                n_diff += 1
                if n_diff <= 3:
                    issues.append(f"value diff: spark={a} oracle={b}")
        if n_diff > 3:
            issues.append(f"... {n_diff} differing rows total")
    return CompareResult(
        name=name,
        ok=not issues,
        spark_rows=len(spark_rows),
        oracle_rows=len(oracle_rows),
        issues=issues,
    )
