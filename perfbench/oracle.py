"""Output checks against DuckDB, computed apart from the program under test.

* ingest_sql, refresh: per-table row counts and per-column redaction counts
  from DuckDB ``substr`` over the generated fixed-width text; row counts of
  the global and lookup tables from the generated codebook text.
* ingest_sql, queries: each CSV result against DuckDB over the written
  Parquet, with the row normalisation of ``tools/check_oracle.py``.
* catalog_ops: every query's row count, and after the timed window the
  full result of each query, against its registered DuckDB oracle with the
  same normalisation.

The checks that need only the inputs run beside Spark's cold start, so they
use few threads.
"""

from __future__ import annotations

import importlib.util
import io
import os
import re
import zipfile

import duckdb
import pandas as pd
import pyarrow as pa

from perfbench import ncd_gen

DUCKDB_CONFIG = {"threads": 2}


def _load_check_oracle(repo: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, repo: str) -> None:
        self.check_oracle = _load_check_oracle(repo)

    def signature(self, pdf: pd.DataFrame):
        return self.check_oracle.frame_signature(pdf)

    # -- ingest ---------------------------------------------------------------

    @staticmethod
    def _member_lines(zips: list[str]) -> dict[str, list[str]]:
        """Normal-table lines per table, staged the reference's way:
        latin-1, every CR a space, one row per LF-terminated line."""
        out: dict[str, list[str]] = {t: [] for t in ncd_gen.NORMAL_TABLES}
        pats = {
            t: re.compile(rf"^{t.lower()}(_[A-Z]+)?\.txt$") for t in ncd_gen.NORMAL_TABLES
        }
        for path in zips:
            with zipfile.ZipFile(path) as zf:
                for member in zf.namelist():
                    for table, pat in pats.items():
                        if pat.match(member):
                            text = zf.read(member).decode("latin-1").replace("\r", " ")
                            out[table] += text.split("\n")[:-1]
        return out

    def expected_normal(self, zips: list[str]) -> dict[str, dict[str, int]]:
        """``{table: {"rows": n, "redacted_<col>": n, ...}}`` from DuckDB."""
        con = duckdb.connect(config=DUCKDB_CONFIG)
        out = {}
        for table, lines in self._member_lines(zips).items():
            con.register("lines", pa.table({"value": pa.array(lines, pa.string())}))
            cols = [
                f"CAST(sum(CASE WHEN trim(substr(value, {s}, {e - s + 1})) = '*' "
                f"THEN 1 ELSE 0 END) AS BIGINT) AS redacted_{name.lower()}"
                for name, _, s, e in ncd_gen.field_extents(table)
            ]
            pdf = con.execute(
                f"SELECT count(*) AS \"rows\", {', '.join(cols)} FROM lines"
            ).df()
            out[table.lower()] = {k: int(v) for k, v in pdf.iloc[0].items()}
            con.unregister("lines")
        con.close()
        return out

    @staticmethod
    def expected_small(zips: list[str]) -> dict[str, int]:
        """Row counts of the global and lookup tables from their ruler text."""
        out = {}
        with zipfile.ZipFile(zips[0]) as zf:
            names = zf.namelist()
            if "global_LIONS.txt" in names:
                text = zf.read("global_LIONS.txt").decode("utf-8")
                parts = re.split(r"^([A-Z]\S+)$", text, flags=re.MULTILINE)
                for name, body in zip(parts[1::2], parts[2::2]):
                    lines = body.strip("\n").split("\n")
                    out[name.lower()] = sum(1 for ln in lines[2:] if ln.strip())
            for member in names:
                if member.startswith("table_gs_"):
                    text = zf.read(member).decode("latin-1")
                    name = re.search(r"(?<=\s)(GS_\S+)", text).group(1)
                    body = re.split(r"\n[ \t]*\n", text)[1]
                    out[name.lower()] = sum(
                        1 for ln in body.split("\n")[2:] if ln.strip()
                    )
        return out

    @staticmethod
    def actual_normal(spark, db: str, table: str, shadows: list[str]) -> dict[str, int]:
        """Row count and the count of true values of each ``redacted_*`` column."""
        sums = ", ".join(f"CAST(sum(CAST({c} AS INT)) AS BIGINT) AS {c}" for c in shadows)
        row = spark.sql(f"SELECT count(*) AS `rows`, {sums} FROM {db}.{table}").first()
        return {k: int(v or 0) for k, v in row.asDict().items()}

    # -- sql ------------------------------------------------------------------

    @staticmethod
    def warehouse_views(warehouse: str, db: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        base = os.path.join(warehouse, db)
        for table in sorted(os.listdir(base)):
            loc = os.path.join(base, table)
            partitioned = any(d.startswith("filename_district=") for d in os.listdir(loc))
            glob = os.path.join(loc, "*", "*.parquet") if partitioned else os.path.join(loc, "*.parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{glob}', "
                f"hive_partitioning = {str(partitioned).lower()})"
            )
        return con

    def csv_matches(self, con, sql: str, spark_csv: str) -> bool:
        want = con.execute(sql).df()
        for c in want.columns:
            if pd.api.types.is_datetime64_any_dtype(want[c]):
                want[c] = want[c].dt.strftime("%Y-%m-%d")
        want = pd.read_csv(io.StringIO(want.to_csv(index=False)))
        got = pd.read_csv(io.StringIO(spark_csv))
        return self.signature(got) == self.signature(want)

    # -- catalog_ops ----------------------------------------------------------

    def oracle_signatures(self, tables_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
        """``frame_signature`` of each registered oracle over the tables."""
        con = duckdb.connect(config=DUCKDB_CONFIG)
        for t in self.check_oracle.TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {name: self.signature(con.execute(sql).df()) for name, sql in oracles.items()}
        con.close()
        return out
