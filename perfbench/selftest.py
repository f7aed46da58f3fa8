"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

Covers the span self-time and driver-time arithmetic, the coverage and
structural-count checks, the seeded generators (one seed, one table;
another seed, another table), the NumPy references on hand-checked graphs,
and Spark job-group attribution: a shuffling span records shuffle bytes, a
span without an action records no job, a job belongs to the innermost
span, and the Louvain round groups leave out a nested checkpoint's jobs and
the caller's later actions. Exits non-zero on failure.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from spans import Span, Tracer, length, merge, subtract  # noqa: E402


def test_intervals():
    assert merge([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert subtract([(0, 10)], [(1, 3), (2, 4), (6, 7)]) == [(0, 1), (4, 6), (7, 10)]
    assert subtract([(0, 1)], [(-1, 2)]) == []
    assert length([(0, 2), (1, 3), (5, 6)]) == 4


def test_span_self_time():
    root = Span("r", "op", None, 0.0, 10.0, top=True)
    a = Span("a", "child", root, 1.0, 3.0)
    b = Span("b", "child", root, 6.0, 7.0)
    grand = Span("g", "leaf", a, 1.5, 2.5)
    root.children, a.children = [a, b], [grand]
    assert root.self_s == 7.0  # 10 minus the 3 s its children cover
    assert a.self_s == 1.0  # the grandchild does not count against root
    assert sum(s.self_s for s in root.walk()) == root.wall  # full coverage
    # driver time: self time outside the span's own jobs
    root.jobs = [{"submitted": 0.5, "completed": 2.0}, {"submitted": 8.0, "completed": 9.0}]
    # self intervals (0,1) (3,6) (7,10); jobs cover 0.5 of the first and 1 of the last
    assert root.driver_s == 7.0 - 0.5 - 1.0


def test_coverage():
    root = Span("r", "op", None, 0.0, 10.0, top=True)
    a = Span("a", "known", root, 1.0, 3.0)
    b = Span("b", "unreported", root, 4.0, 8.0)
    root.children = [a, b]
    # the unreported child's 4 s are missing from the metrics
    assert layers.coverage(root, {"op", "known"}) == 0.6
    assert layers.coverage(root, {"op", "known", "unreported"}) == 1.0


def test_structure(work):
    path = os.path.join(work, "structure.json")
    quiet = lambda msg: None  # noqa: E731
    first = {"0:op": {"jobs": 2, "stages": 3, "shuffle_write_bytes": 1000}}
    assert layers.compare_structure(first, path, quiet) == (0, 0.0)  # records
    assert layers.compare_structure(first, path, quiet) == (0, 0.0)
    bytes_only = {"0:op": {"jobs": 2, "stages": 3, "shuffle_write_bytes": 1250}}
    assert layers.compare_structure(bytes_only, path, quiet) == (0, 0.2)
    more = {"0:op": {"jobs": 3, "stages": 4, "shuffle_write_bytes": 1000}, "1:new": {"jobs": 1, "stages": 1}}
    assert layers.compare_structure(more, path, quiet)[0] == 4
    # the record is keyed by the sources: editing one gives a new key
    src = os.path.join(work, "tree", "perfbench")
    os.makedirs(src)
    with open(os.path.join(src, "a.py"), "w") as fh:
        fh.write("x = 1\n")
    before = layers.source_hash(os.path.dirname(src))
    with open(os.path.join(src, "a.py"), "a") as fh:
        fh.write("y = 2\n")
    assert layers.source_hash(os.path.dirname(src)) != before


def test_generators_are_seeded():
    for make in (
        lambda s: gen.transcripts(s, 300),
        lambda s: gen.events(s, 500, 20),
        lambda s: gen.documents(s, 100)[0],
        lambda s: gen.embeddings(s, 100, 8, 4),
    ):
        assert gen.row_hash(make(5)) == gen.row_hash(make(5))
        assert gen.row_hash(make(5)) != gen.row_hash(make(6))


def test_references():
    k4 = np.array([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)])
    assert checks.triangles(k4, 4) == 4
    two = np.array([(0, 1), (1, 2), (3, 4)])
    assert checks.components(two, 6).tolist() == [0, 0, 0, 3, 3, 5]
    # two disjoint edges split in two: Q = 1 - 2 * (1/2)^2
    pair = np.array([(0, 1), (2, 3)])
    assert checks.modularity(pair, 4, np.array([0, 0, 1, 1])) == 0.5
    rank = checks.pagerank(k4, 4, 50, 1e-15)
    assert np.allclose(rank, 0.25, atol=1e-15)
    # path 0-1-2: 1 ties between labels 0 and 2 and takes 0
    path = np.array([(0, 1), (1, 2)])
    assert checks.label_propagation(path, 4, 1).tolist() == [1, 0, 1, 3]


def test_job_attribution(root):
    from pyspark.sql import functions as F

    from run import start_session, stop_jvm, use_work_dir

    use_work_dir(root)
    spark = start_session(root, 2)
    try:
        tr = Tracer(spark, enabled=True)
        with tr.span("shuffle"):
            spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        with tr.span("idle"):
            spark.range(10).select(F.col("id") + 1)  # a plan, no action
            time.sleep(0.05)
        with tr.span("outer"):
            with tr.span("inner"):
                spark.range(100).count()
        byname = {s.name: s for s in tr.spans()}
        sh = byname["shuffle"]
        assert sh.jobs and sum(j["shuffle_write_bytes"] for j in sh.jobs) > 0, sh.jobs
        assert byname["idle"].jobs == []
        assert byname["idle"].driver_s == byname["idle"].self_s > 0.04
        assert byname["outer"].jobs == [] and len(byname["inner"].jobs) >= 1
        assert 0 <= sh.driver_s < sh.self_s
        assert tr.structure()["0:shuffle"]["jobs"] == len(sh.jobs)
        # a wrapped function opens a nested span and is restored afterwards
        import types

        mod = types.SimpleNamespace(fn=lambda x: x * 2)
        tr.wrap(mod, "fn", "wrapped", rows=lambda a, out: out)
        with tr.span("caller"):
            assert mod.fn(21) == 42
        tr.unwrap()
        wrapped = [s for s in tr.spans() if s.name == "wrapped"]
        assert len(wrapped) == 1 and wrapped[0].parent.name == "caller"
        assert wrapped[0].attrs["rows"] == 42 and mod.fn(1) == 2
        # a nested checkpoint span inherits the round's job description,
        # and so would the caller's action; neither counts in the round
        with tr.span("louvain") as lv:
            spark.sparkContext.setJobDescription("louvain L0 R0")
            spark.range(10).count()
            with tr.span("checkpoint") as ck:
                time.sleep(0.3)
                spark.range(10).count()
            tr.clear_description()
            spark.range(10).count()
        assert ck.jobs and all(j["desc"] == "louvain L0 R0" for j in ck.jobs)
        own = [j for j in lv.jobs if j["desc"] == "louvain L0 R0"]
        assert own and len(own) < len(lv.jobs)
        ((secs, n),) = layers._phase_groups([lv], r"louvain L\d+ R\d+").values()
        assert n == len(own) and secs < 0.3
    finally:
        stop_jvm(spark)


def main() -> int:
    root_dir = os.path.dirname(HERE)
    sys.path.insert(0, root_dir)
    work = os.path.join(root_dir, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tests = [test_intervals, test_span_self_time, test_coverage, test_generators_are_seeded, test_references]
    tests = [(t.__name__, t) for t in tests]
    tests.append(("test_structure", lambda: test_structure(work)))
    tests.append(("test_job_attribution", lambda: test_job_attribution(work)))
    failed = 0
    try:
        for name, t in tests:
            try:
                t()
                print(f"ok   {name}")
            except Exception as exc:  # report every failing test, then fail the run
                failed += 1
                print(f"FAIL {name}: {type(exc).__name__}: {exc}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
