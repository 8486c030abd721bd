"""The benchmark's closed-loop, single-client workloads.

Each workload has the same life cycle, driven by ``run.py``:

``inputs``    generate (or reuse) the seeded inputs; not timed.
``expected``  the DuckDB side of the output check, from the inputs alone;
              ``run.py`` computes it while the cold session starts.
``attach``    the workload's share of set-up in a fresh session; timed as
              part of ``setup_s``.
``prime``     bring the session to the state the timed ops expect.
``passes``    the timed operations, as an endless sequence of equal passes.
``check``     compare the outputs with the expected values.
``install_spans`` / ``layer_metrics``  the traced run's per-layer numbers.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench import ncd_gen, tables_gen
from perfbench.trace import Tracer, median, read_status_store, sum_groups

DB = "ncd"
NCD_ROWS = 30_000  # fixed-width rows of every normal table of the dump


@dataclass
class Op:
    """One timed operation: its kind, a callable returning its output, and
    an optional untimed callable run just before it."""

    kind: str  # "load", a SQL template or a catalog query name
    run: object
    before: object = None


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool
    output: object = None
    group: str = ""  # Spark job group of the op, in a traced window
    worker_cpu_s: float = 0.0
    pass_no: int = 0  # the pass of the window the op belongs to


def inputs_key(module, data=()) -> str:
    """A digest of a generator's source and of the data it embeds, so that
    a changed generator never reuses inputs cached by an older one."""
    h = hashlib.sha256()
    with open(module.__file__, "rb") as fh:
        h.update(fh.read())
    h.update(repr(data).encode())
    return h.hexdigest()[:12]


def _cached(path: str, build) -> None:
    """Run ``build(path)`` unless ``path`` holds a finished earlier build."""
    marker = os.path.join(path, ".done")
    if os.path.exists(marker):
        return
    shutil.rmtree(path, ignore_errors=True)
    build(path)
    open(marker, "w").close()


def warehouse_files(warehouse: str) -> tuple[int, int]:
    """(data files, data bytes) under the warehouse, Spark's side files excluded."""
    files = size = 0
    for root, _, names in os.walk(warehouse):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# -- ingest_sql ---------------------------------------------------------------

# The analyst queries of one pass, in order, each with the size ranks of
# the districts it reads (0 is the largest, 47 the median of 94).  No
# traffic log of NCD analysts was available, so the mix is the plainest one:
# every template twice, once on the largest districts and once on median
# ones.  The seed picks which district holds each rank, the case ids, the
# year and the column; the ranks keep a query's cost, and its fixed place
# after the refresh, the same from seed to seed and pass to pass.
PASS = (
    ("point", (0,)),
    ("district_agg", (0, 1, 2)),
    ("decode_join", (0,)),
    ("fact_join", ()),
    ("redaction_scan", ()),
    ("point", (47,)),
    ("district_agg", (46, 47, 48)),
    ("decode_join", (47,)),
    ("fact_join", ()),
    ("redaction_scan", ()),
)
PASS_QUERIES = {t for t, _ in PASS}
_CASE_COLUMNS = [n.lower() for n, _, _ in ncd_gen.NORMAL_TABLES["GS_CASE"]]


def sql_for(template: str, districts: list[str], rng: random.Random, dump: ncd_gen.Dump) -> str:
    """One analyst query of ``template`` over ``districts``, with seeded
    parameters.  The text runs unchanged on Spark and on DuckDB."""
    if template == "point":
        d = districts[0]
        case_id = rng.choice(dump.case_ids[d])
        return (
            "SELECT case_id, status, total_defendants, filed_date, lead_charge "
            f"FROM gs_case WHERE filename_district = '{d}' AND case_id = '{case_id}'"
        )
    if template == "district_agg":
        ds = ", ".join(f"'{d}'" for d in districts)
        return (
            "SELECT filename_district, count(*) AS n, count(filed_date) AS n_dated, "
            "CAST(sum(CASE WHEN redacted_status THEN 1 ELSE 0 END) AS BIGINT) AS red_status, "
            "CAST(sum(CASE WHEN redacted_filed_date THEN 1 ELSE 0 END) AS BIGINT) AS red_filed, "
            "max(filed_date) AS last_filed "
            f"FROM gs_case WHERE filename_district IN ({ds}) GROUP BY filename_district"
        )
    if template == "decode_join":
        return (
            "SELECT /*+ BROADCAST(l) */ l.description, c.status, count(*) AS n "
            "FROM gs_case c JOIN gs_charge l ON c.lead_charge = l.code "
            f"WHERE c.filename_district = '{districts[0]}' GROUP BY l.description, c.status"
        )
    if template == "fact_join":
        y = rng.randint(1996, 2016)
        return (
            "SELECT c.status, count(*) AS events, count(DISTINCT c.case_id) AS cases, "
            "CAST(sum(c.total_defendants) AS BIGINT) AS defendants "
            "FROM gs_case c JOIN gs_court_hist h ON c.case_id = h.case_id "
            f"WHERE h.event_date BETWEEN DATE '{y}-01-01' AND DATE '{y + 1}-06-30' "
            "GROUP BY c.status"
        )
    if template == "redaction_scan":
        col = rng.choice(_CASE_COLUMNS)
        return (
            "SELECT year(filed_date) AS yr, count(*) AS n, "
            f"CAST(sum(CASE WHEN redacted_{col} THEN 1 ELSE 0 END) AS BIGINT) AS red "
            "FROM gs_case GROUP BY year(filed_date)"
        )
    raise ValueError(f"unknown template {template!r}")


def query_batches(seed: int, dump: ncd_gen.Dump):
    """The seeded, endless stream of per-pass batches of ``(template, sql)``,
    each batch ``PASS`` with new parameters."""
    rng = random.Random(seed)
    by_size = sorted(dump.case_ids, key=lambda d: (-len(dump.case_ids[d]), d))
    while True:
        yield [(t, sql_for(t, [by_size[r] for r in ranks], rng, dump)) for t, ranks in PASS]


class IngestSql:
    """The monthly refresh of a warehouse that already holds the same dump,
    followed by an analyst session over the refreshed catalog."""

    name = "ingest_sql"

    def __init__(self, run_dir: str, oracle) -> None:
        self.oracle = oracle
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.stage = os.path.join(run_dir, "stage")
        self.dump: ncd_gen.Dump | None = None
        self.seed = 0
        self.catalog = None
        self.executor = None

    def inputs(self, work: str, seed: int) -> None:
        self.seed = seed
        key = inputs_key(ncd_gen, ncd_gen.FIXTURE)
        path = os.path.join(work, f"ncd-{seed}-{NCD_ROWS}-{key}")

        def build(p):
            dump = ncd_gen.generate_dump(p, seed, NCD_ROWS)
            dump.zips = [os.path.relpath(z, p) for z in dump.zips]
            with open(os.path.join(p, "dump.json"), "w") as fh:
                json.dump(dump.__dict__, fh)

        _cached(path, build)
        with open(os.path.join(path, "dump.json")) as fh:
            self.dump = ncd_gen.Dump(**json.load(fh))
        self.dump.zips = [os.path.join(path, z) for z in self.dump.zips]

    def expected(self) -> dict:
        zips = self.dump.zips
        return {
            "normal": self.oracle.expected_normal(zips),
            "small": self.oracle.expected_small(zips),
        }

    def attach(self, spark) -> None:
        from national_caseload_data_ingest_spark.catalog import local_catalog
        from national_caseload_data_ingest_spark.query import QueryExecutor

        self.catalog = local_catalog(spark, self.warehouse, db_name=DB)
        self.catalog.create_db()
        self.executor = QueryExecutor(spark, db_name=DB)

    def load(self, zip_path: str) -> list[str]:
        from national_caseload_data_ingest_spark.sources.data_zip import NcdZipLoader

        return NcdZipLoader(self.catalog.spark, self.catalog, zip_path, self.stage).load()

    def query(self, sql: str) -> tuple[str, str]:
        return sql, self.executor.execute_query(sql).read()

    def pass_ops(self, batch: list[tuple[str, str]]) -> list[Op]:
        """A refresh (one load per zip, in order), then the analyst queries."""
        ops = [Op("load", lambda z=z: self.load(z)) for z in self.dump.zips]
        ops += [Op(t, lambda sql=sql: self.query(sql)) for t, sql in batch]
        return ops

    def prime(self, spark) -> None:
        # The warehouse holds the dump before the first timed refresh, and
        # every query template has run once.
        shutil.rmtree(self.warehouse, ignore_errors=True)
        batch = next(query_batches(self.seed + 1, self.dump))
        firsts = [next(q for q in batch if q[0] == t) for t in sorted(PASS_QUERIES)]
        for op in self.pass_ops(firsts):
            op.run()

    def passes(self):
        for batch in query_batches(self.seed, self.dump):
            yield self.pass_ops(batch)

    def check(self, spark, samples: list[Sample], expected: dict) -> list[str]:
        problems = []
        want = set(ncd_gen.NORMAL_TABLES) | {t.upper() for t in expected["small"]}
        loads = [s for s in samples if s.kind == "load"]
        n_zips = len(self.dump.zips)
        for i in range(0, len(loads), n_zips):
            loaded = [name for s in loads[i : i + n_zips] for name in s.output]
            if set(loaded) != want:
                problems.append(f"refresh loaded {sorted(loaded)}")
        for table, want in expected["normal"].items():
            got = self.oracle.actual_normal(spark, DB, table, [c for c in want if c != "rows"])
            if got != want:
                problems.append(f"{table}: spark {got} != duckdb {want}")
        for table, want in expected["small"].items():
            got = spark.table(f"{DB}.{table}").count()
            if got != want:
                problems.append(f"{table}: {got} rows != {want}")
        con = self.oracle.warehouse_views(self.warehouse, DB)
        try:
            for s in samples:
                if s.kind in PASS_QUERIES and not self.oracle.csv_matches(con, *s.output):
                    problems.append(f"{s.kind} differs from DuckDB: {s.output[0]}")
        finally:
            con.close()
        return problems

    def install_spans(self, tracer: Tracer) -> None:
        from national_caseload_data_ingest_spark import catalog as cat_mod
        from national_caseload_data_ingest_spark import query as query_mod
        from national_caseload_data_ingest_spark.sources import data_zip
        from national_caseload_data_ingest_spark.sources import globals as glob_mod

        def staged_bytes(span, staged):
            span.attrs["bytes"] = sum(os.path.getsize(p) for p in staged.members.values())

        def noop_write(span, result):
            # Traced only: parse, cast and redaction without the Parquet
            # encode, for the projection's executor CPU time.
            if result is not None:
                with tracer.span("fixedwidth.noop_write"), tracer.job_group(
                    f"noop:{len(tracer.spans)}"
                ):
                    result[0].write.format("noop").mode("overwrite").save()

        tracer.wrap(data_zip, "stage_members", "data_zip.stage_members", staged_bytes)
        tracer.wrap(data_zip.NcdZipLoader, "read_normal_table", "fixedwidth.read", noop_write)
        tracer.wrap(glob_mod, "read_global_tables", "globals.read_global_tables")
        tracer.wrap(glob_mod, "read_lookup_table", "globals.read_lookup_table")
        tracer.wrap(cat_mod.SparkCatalog, "write_table", "catalog.write_table", group="write")
        tracer.wrap(cat_mod.SparkCatalog, "execute_query", "catalog.execute_query")
        tracer.wrap(cat_mod.SparkCatalog, "recover_partitions", "catalog.recover_partitions")
        tracer.wrap(query_mod.QueryExecutor, "execute_query_df", "query.execute_query_df")
        tracer.wrap(query_mod.QueryExecutor, "execute_query", "query.execute_query")

    def layer_metrics(self, tracer: Tracer, samples: list[Sample], spark) -> dict:
        n = max(1, sum(s.kind == "load" for s in samples) // len(self.dump.zips))
        store = read_status_store(spark)
        ddl = [
            s for s in tracer.spans
            if s.name in ("catalog.execute_query", "catalog.recover_partitions")
            and tracer.has_ancestor(s, "catalog.write_table")
            and not tracer.has_ancestor(s, "catalog.recover_partitions")
        ]
        write = sum_groups(store, "write:")
        queries = [s for s in samples if s.kind in PASS_QUERIES]
        nq = max(1, len(queries))
        q_stats = sum_groups({q.group: store[q.group] for q in queries if q.group in store}, "")
        result_rows = sum(max(1, q.output[1].count("\n") - 1) for q in queries)
        files, size = warehouse_files(self.warehouse)
        out = {
            "data_zip.stage_s": tracer.total("data_zip.stage_members") / n,
            "data_zip.staged_bytes": sum(
                s.attrs.get("bytes", 0) for s in tracer.named("data_zip.stage_members")
            ) / n,
            "globals.parse_s": (
                tracer.total("globals.read_global_tables")
                + tracer.total("globals.read_lookup_table")
            ) / n,
            "fixedwidth.read_s": tracer.self_time("fixedwidth.read") / n,
            "fixedwidth.project_cpu_s": sum_groups(store, "noop:").exec_cpu_s / n,
            "catalog.write_s": tracer.self_time("catalog.write_table") / n,
            "catalog.ddl_s": sum(s.dur for s in ddl) / n,
            "catalog.ddl_statements": sum(
                1 for s in tracer.named("catalog.execute_query")
                if tracer.has_ancestor(s, "catalog.write_table")
            ) / n,
            "catalog.write_jobs": write.jobs / n,
            "catalog.write_cpu_s": write.exec_cpu_s / n,
            "catalog.write_task_skew": write.task_skew,
            "catalog.files_written": float(files),
            "catalog.bytes_written": float(size),
            "catalog.stored_bytes_per_input_byte": size / self.dump.input_bytes,
            "query.plan_s": tracer.total("query.execute_query_df") / nq,
            "query.fetch_s": tracer.self_time("query.execute_query") / nq,
            "query.jobs_per_query": q_stats.jobs / nq,
            "query.tasks_per_query": q_stats.tasks / nq,
            "query.exec_cpu_ms": q_stats.exec_cpu_s * 1e3 / nq,
            "query.input_rows_per_result_row": q_stats.input_records / max(1, result_rows),
        }
        for t in PASS_QUERIES:
            out[f"query.{t}_p50_ms"] = median([q.seconds * 1e3 for q in queries if q.kind == t])
        return out


# -- catalog_ops --------------------------------------------------------------

PAIRS = (
    "ngram_jaccard_pairs",
    "ppjoin_neardup_pairs",
    "containment_quote_pairs",
    "neardup_pagerank",
    "training_corpus_build",
)
OTHER = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "window_rank_orders",
    "lm_perplexity",
    "jpeg_progressive_decode_features",
    "url_canonical_features",
)


@dataclass
class QueryResult:
    rows: int
    build_s: float
    action_s: float
    persisted: int = 0
    groups: list[str] = field(default_factory=list)
    df: object = None  # the built DataFrame, for the full check after the run


class CatalogOps:
    """One pass over a fixed set of registered catalog queries."""

    name = "catalog_ops"

    def __init__(self, run_dir: str, oracle) -> None:
        self.oracle = oracle
        self.tables = ""
        self.queries: dict = {}
        self.oracles: dict = {}
        self.spark = None
        self.tracer: Tracer | None = None

    def inputs(self, work: str, seed: int) -> None:
        import __spark_entry__

        self.tables = os.path.join(work, f"tables-{seed}-{inputs_key(tables_gen)}")
        _cached(self.tables, lambda p: tables_gen.generate_tables(p, seed))
        queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        self.queries = {n: queries[n] for n in PAIRS + OTHER}
        self.oracles = {n: oracles[n] for n in PAIRS + OTHER}

    def expected(self) -> dict:
        return self.oracle.oracle_signatures(self.tables, self.oracles)

    def attach(self, spark) -> None:
        from national_caseload_data_ingest_spark.session import load_tables

        self.spark = spark
        load_tables(spark, self.tables, *tables_gen.TABLES)

    def prime(self, spark) -> None:
        pass  # the one pass times each query's first run in the session

    def run_query(self, name: str) -> QueryResult:
        """Build, then count; both timed.  Spans and job groups when traced."""
        fn = self.queries[name]
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            df = fn(self.spark, self.tables)
            t1 = time.perf_counter()
            rows = df.count()
            return QueryResult(rows, t1 - t0, time.perf_counter() - t1, df=df)
        build_group = f"op:{name}:build:{len(tr.spans)}"
        with tr.span(f"operators.{name}.build") as b, tr.job_group(build_group):
            df = fn(self.spark, self.tables)
        action_group = f"op:{name}:action:{len(tr.spans)}"
        with tr.span(f"operators.{name}.action") as a, tr.job_group(action_group):
            rows = df.count()
        with tr.cost():
            persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return QueryResult(rows, b.dur, a.dur, persisted, [build_group, action_group], df)

    def passes(self):
        """Exactly one pass, whatever ``--seconds`` says: a second pass would
        time each query's second run, which is faster, so a change that
        brought a pass under ``--seconds`` would add warm samples and
        overstate its gain.  A pass takes several times ``--seconds``.  A
        warm-up pass before it would cost half a minute more per run."""
        # clearCache before each query, untimed, as bench.py does.
        yield [
            Op(name, lambda name=name: self.run_query(name), self.spark.catalog.clearCache)
            for name in PAIRS + OTHER
        ]

    def check(self, spark, samples: list[Sample], expected: dict) -> list[str]:
        """Every count against the oracle's row count; then, untimed, the
        full signature (row count, columns, sorted rows) of each query's
        DataFrame, collected with ``toPandas()``."""
        problems = [
            f"{s.kind}: {s.output.rows} rows != oracle {expected[s.kind][0]}"
            for s in samples
            if s.output.rows != expected[s.kind][0]
        ]
        for name, df in {s.kind: s.output.df for s in samples}.items():
            try:
                got = self.oracle.signature(df.toPandas())
            except Exception as e:  # noqa: BLE001 — a failed collect is a failed check
                problems.append(f"{name}: toPandas raised {type(e).__name__}: {e}")
                continue
            if got[:2] != expected[name][:2]:
                problems.append(f"{name}: spark {got[:2]} != oracle {expected[name][:2]}")
            elif got[2] != expected[name][2]:
                diff = next(a for a, b in zip(got[2], expected[name][2]) if a != b)
                problems.append(f"{name}: values differ from oracle, first {diff[:200]}")
        return problems

    def install_spans(self, tracer: Tracer) -> None:
        tracer.patch(self, "tracer", tracer)

    def layer_metrics(self, tracer: Tracer, samples: list[Sample], spark) -> dict:
        store = read_status_store(spark)
        out = {}
        for group, names in (("pairs", PAIRS), ("other", OTHER)):
            mine = [s for s in samples if s.kind in names]
            passes = max(1.0, len(mine) / len(names))
            groups = [g for s in mine for g in s.output.groups]
            stats = sum_groups({g: store[g] for g in groups if g in store}, "")
            out[f"operators.{group}_s"] = sum(s.seconds for s in mine) / passes
            out[f"operators.{group}_build_s"] = sum(s.output.build_s for s in mine) / passes
            out[f"operators.{group}_action_s"] = sum(s.output.action_s for s in mine) / passes
            out[f"operators.{group}_exec_cpu_s"] = stats.exec_cpu_s / passes
            out[f"operators.{group}_exec_run_s"] = stats.exec_run_s / passes
            out[f"operators.{group}_py_worker_cpu_s"] = sum(s.worker_cpu_s for s in mine) / passes
            if group == "pairs":
                out["operators.pairs_build_jobs"] = sum(
                    store[g].jobs for g in groups if ":build:" in g and g in store
                ) / passes
                out["operators.shuffle_write_bytes"] = stats.shuffle_write_bytes / passes
                out["operators.spill_bytes"] = stats.spill_bytes / passes
                out["operators.task_skew"] = stats.task_skew
        out["operators.persisted_rdds_after"] = float(
            max((s.output.persisted for s in samples), default=0)
        )
        for name in PAIRS + OTHER:
            out[f"operators.{name}_s"] = median([s.seconds for s in samples if s.kind == name])
        return out


WORKLOADS = {w.name: w for w in (IngestSql, CatalogOps)}
