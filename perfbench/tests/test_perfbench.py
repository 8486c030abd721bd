"""The benchmark's own tests: seeded inputs are reproducible, the oracle's
counts agree with the generator, and the metric names the benchmark prints
are the ones ``BENCHMARK.json`` declares.  No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import ncd_gen, run, tables_gen, trace, workloads  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402


def _read_all(directory: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_byte_identical_zips(tmp_path):
    a = ncd_gen.generate_dump(str(tmp_path / "a"), 7, 3000)
    b = ncd_gen.generate_dump(str(tmp_path / "b"), 7, 3000)
    c = ncd_gen.generate_dump(str(tmp_path / "c"), 8, 3000)
    assert _read_all(str(tmp_path / "a")) == _read_all(str(tmp_path / "b"))
    assert _read_all(str(tmp_path / "a")) != _read_all(str(tmp_path / "c"))
    assert a.case_ids == b.case_ids and a.input_bytes == b.input_bytes


def test_same_seed_gives_byte_identical_tables(tmp_path):
    tables_gen.generate_tables(str(tmp_path / "a"), 3)
    tables_gen.generate_tables(str(tmp_path / "b"), 3)
    assert _read_all(str(tmp_path / "a")) == _read_all(str(tmp_path / "b"))


def test_dump_carries_every_edge_case(tmp_path):
    import zipfile

    dump = ncd_gen.generate_dump(str(tmp_path), 1, 3000)
    assert len(dump.case_ids) == 94
    sizes = sorted(len(v) for v in dump.case_ids.values())
    assert sizes[-1] > 10 * sizes[len(sizes) // 2]  # Zipf-skewed districts
    with zipfile.ZipFile(dump.zips[0]) as zf:
        case = b"".join(zf.read(n) for n in zf.namelist() if n.startswith("gs_case_"))
        assert "Ø".encode("latin-1") in case and b"\r" in case and b"12.5" in case
        assert "São".encode("utf-8") in zf.read("global_LIONS.txt")
        assert sum(n.startswith("table_gs_") for n in zf.namelist()) >= 2


def test_oracle_counts_every_generated_row(tmp_path):
    dump = ncd_gen.generate_dump(str(tmp_path), 2, 3000)
    expected = Oracle(REPO).expected_normal(dump.zips)
    assert sum(t["rows"] for t in expected.values()) == dump.normal_rows
    # Every column of the large table carries redactions.
    assert all(v > 0 for v in expected["gs_case"].values())


class _StubTracer(trace.Tracer):
    """A tracer with no spans, without Spark."""

    def __init__(self) -> None:
        self.spans, self._stack, self._patches, self.op = [], [], [], ""


def test_metric_names_match_benchmark_json(tmp_path, monkeypatch):
    """The workloads and their per-layer metrics are the ones
    ``BENCHMARK.json`` declares, which is where ``run.py`` reads the names."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end, per_layer = run.declared_metrics()
    assert set(end_to_end) == {"setup_s", "pass_s", "op_gmean_ms"}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["paths"] == ["perfbench"]
    monkeypatch.setattr(workloads, "read_status_store", lambda spark: {})
    reported = {"trace.overhead_frac", "session.start_s", "session.driver_rss_mb", "host.steal_frac"}
    for cls in workloads.WORKLOADS.values():
        w = cls(str(tmp_path), None)
        if cls is workloads.IngestSql:
            w.dump = ncd_gen.generate_dump(str(tmp_path / "dump"), 1, 3000)
        layers = w.layer_metrics(_StubTracer(), [], None)
        assert set(layers) <= set(per_layer)
        reported |= set(layers)
    assert reported == set(per_layer)


def test_query_cost_does_not_depend_on_the_seed(tmp_path):
    """The seed moves which district holds each size rank, not the sizes
    each query reads."""
    dumps = [ncd_gen.generate_dump(str(tmp_path / str(s)), s, 3000) for s in (4, 5)]
    read_sizes = []
    for seed, dump in zip((4, 5), dumps):
        batch = next(workloads.query_batches(seed, dump))
        assert [t for t, _ in batch] == [t for t, _ in workloads.PASS]
        read_sizes.append([
            sorted(len(dump.case_ids[d]) for d in dump.case_ids if f"'{d}'" in sql)
            for _, sql in batch
        ])
    assert read_sizes[0] == read_sizes[1]
