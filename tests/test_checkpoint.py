"""M5: superstep checkpointing, lineage/metrics tables, kill-and-resume."""

import pytest
from pyspark.sql import functions as F

from elektra_spark.checkpoint import CheckpointedRun
from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.operators.cc import _min_label_fixpoint
from elektra_spark.operators.pagerank import pagerank
from elektra_spark.tables import SnapshotCatalog

from .oracles import pagerank_oracle

CHAIN = [(i, i + 1) for i in range(63)]


def test_snapshot_catalog_basics(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    cat.write("t", df)
    assert sorted(map(tuple, cat.read("t").collect())) == [(1, 10), (2, 20)]
    cat.merge_insert("t", spark.createDataFrame([(2, 99), (3, 30)], "k long, v long"), ["k"])
    assert sorted(map(tuple, cat.read("t").collect())) == [(1, 10), (2, 20), (3, 30)]
    cat.upsert("t", spark.createDataFrame([(3, 33), (4, 44)], "k long, v long"), ["k"])
    assert sorted(map(tuple, cat.read("t").collect())) == [(1, 10), (2, 20), (3, 33), (4, 44)]
    cat.merge_delete("t", spark.createDataFrame([(1,)], "k long"), ["k"])
    assert sorted(map(tuple, cat.read("t").collect())) == [(2, 20), (3, 33), (4, 44)]
    # time travel: version 1 still readable
    assert sorted(map(tuple, cat.read("t", version=1).collect())) == [(1, 10), (2, 20)]
    assert [s["operation"] for s in cat.history("t")] == [
        "overwrite", "merge_insert", "upsert", "merge_delete",
    ]


def test_append_rejects_schema_drift(spark, tmp_path):
    """Fast-append commits only delta files, so a drifted delta schema must be
    rejected at commit time — silently null-filling missing columns at read
    time is how a table rots."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.write("t", spark.createDataFrame([(1, 10)], "k long, v long"))
    cat.append("t", spark.createDataFrame([(2, 20)], "k long, v long"))
    assert cat.read("t").count() == 2
    with pytest.raises(ValueError, match="schema mismatch"):
        cat.append("t", spark.createDataFrame([(3,)], "k long"))
    with pytest.raises(ValueError, match="schema mismatch"):
        cat.append("t", spark.createDataFrame([(3, 30, 1)], "k long, v long, extra long"))


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    """Kill-and-resume: 4 supersteps, 'crash', resume for 4 more — ranks are
    bit-identical to an uninterrupted 8-superstep run (same schedule)."""
    edges = edges_from_pairs(spark, CHAIN)

    run = CheckpointedRun(spark, str(tmp_path / "wh"), "run1")
    pagerank(edges, n_iter=4, checkpoint=run.checkpoint_fn("ranks"), on_superstep=run.metrics_hook("ranks"))
    assert run.latest_step("ranks") == 4
    # EVERY superstep is individually durable (a kill after superstep k
    # resumes from k, not from scratch) — this pins the bsp kernel's
    # per-superstep catalog commits, not just the end-of-run snapshot
    # (CHAIN's dense vids route kernel='auto' to bsp)
    ops = {s["operation"] for s in run.catalog.history("run1_ranks")}
    assert {f"superstep={i}" for i in range(1, 5)} <= ops

    # resume mid-iteration from the durable snapshot
    resumed = pagerank(
        edges,
        n_iter=4,
        start_step=run.latest_step("ranks"),
        init_ranks=run.load("ranks"),
        checkpoint=run.checkpoint_fn("ranks"),
    )
    full = pagerank(edges, n_iter=8)
    a = {r["vid"]: r["rank"] for r in resumed.collect()}
    b = {r["vid"]: r["rank"] for r in full.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[v] - b[v]) < 1e-15 for v in a)
    # and the schedule matches the oracle
    want = pagerank_oracle(CHAIN, range(64), iters=8)
    assert all(abs(a[v] - want[v]) < 1e-6 for v in want)
    assert run.latest_step("ranks") == 8


def test_cc_fixpoint_resume(spark, tmp_path):
    edges = edges_from_pairs(spark, CHAIN)
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels0 = both.select(F.col("src").alias("vid")).distinct().withColumn("label", F.col("vid"))

    run = CheckpointedRun(spark, str(tmp_path / "wh"), "ccrun")
    # run only 2 supersteps (simulated crash via max_iter)
    partial = _min_label_fixpoint(edges, labels0, max_iter=2, checkpoint=run.checkpoint_fn("labels"))
    step = run.latest_step("labels")
    assert step == 2
    # resume to fixpoint from durable state
    final = _min_label_fixpoint(edges, run.load("labels"), max_iter=30,
                                checkpoint=run.checkpoint_fn("labels"), start_step=step)
    got = {r["vid"]: r["label"] for r in final.collect()}
    assert got == {v: 0 for v in range(64)}


def test_lineage_and_metrics_recorded(spark, tmp_path):
    edges = edges_from_pairs(spark, CHAIN[:15])
    run = CheckpointedRun(spark, str(tmp_path / "wh"), "m")
    pagerank(edges, n_iter=2, checkpoint=run.checkpoint_fn("ranks"), on_superstep=run.metrics_hook("ranks"))
    lin = run.lineage_table()
    assert lin.filter(F.col("state") == "ranks").count() > 0
    assert set(lin.columns) == {"run_id", "state", "superstep", "partition_id", "rows", "committed_at"}
    met = run.metrics_table().collect()
    assert {m["superstep"] for m in met} == {0, 1}
    # per-superstep row counts are conserved (every vertex present each step)
    per_step = lin.groupBy("superstep").agg(F.sum("rows").alias("n")).collect()
    assert len({r["n"] for r in per_step}) == 1


def test_changelog_net_delta(spark, tmp_path):
    """CDC changelog: inserts/deletes by key diff; a row deleted and
    re-inserted (same key) inside the window is absent from the delta."""
    from elektra_spark.tables import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    cat.write("t", spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long"))
    v0 = cat.current_version("t")
    cat.merge_delete("t", spark.createDataFrame([(2,), (3,)], "k long"), keys=["k"])
    cat.merge_insert("t", spark.createDataFrame([(3, 99), (4, 40)], "k long, v long"), keys=["k"])
    got = {(r.change, r.k) for r in cat.changelog("t", from_version=v0, keys=["k"]).collect()}
    assert got == {("delete", 2), ("insert", 4)}  # k=3 delete+reinsert nets out
    # explicit to_version: delta to the post-delete snapshot only
    mid = cat.history("t")[-2]["version"]
    got_mid = {
        (r.change, r.k)
        for r in cat.changelog("t", from_version=v0, to_version=mid, keys=["k"]).collect()
    }
    assert got_mid == {("delete", 2), ("delete", 3)}


def test_zorder_morton_and_skipping(spark):
    """Morton interleave vs a python bit oracle; block bounds tighter than
    the unsorted layout's (the point of z-ordering)."""
    from pyspark.sql import functions as F

    from elektra_spark.layout import interleave_bits, zorder_blocks

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", interleave_bits(F.col("x"), F.col("y"), 8).alias("z")).collect()
    }
    assert got == {(x, y): morton(x, y) for x, y in pts}

    # skipping: on a 64x64 grid cut into 16 z-blocks, every block's bounding
    # rectangle is a quadrant-sized window, far below the full range
    grid = spark.createDataFrame([(x, y) for x in range(64) for y in range(64)], "x long, y long")
    blocks = zorder_blocks(grid, "x", "y", bits=6, n_blocks=16).collect()
    assert sum(b.n_rows for b in blocks) == 64 * 64
    for b in blocks:
        assert (b.max_x - b.min_x + 1) * (b.max_y - b.min_y + 1) <= 64 * 64 // 16
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_blocks(grid, "x", "y", bits=0)


def test_ivm_delta_equals_recompute(spark, tmp_path):
    """Random insert/delete schedule: the delta-maintained view equals a
    fresh recompute after every commit; emptied groups disappear."""
    import random

    from pyspark.sql import functions as F

    from elektra_spark.ivm import apply_delta, delta_rows, sum_agg
    from elektra_spark.tables import SnapshotCatalog

    rng = random.Random(5)
    rows = [(i, "g%d" % (i % 4), rng.randrange(1, 1000)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    cat = SnapshotCatalog(spark, str(tmp_path / "ivm"))
    keys, meas = ["g"], {"sum_v": F.col("v")}
    cat.write("view", sum_agg(df, keys, meas))

    live = dict((r[0], r) for r in rows)
    for step in range(3):
        dels = [live[k] for k in sorted(live) if k % (3 + step) == 0]
        for d in dels:
            del live[d[0]]
        adds = [(1000 + step * 100 + j, "g%d" % (j % 5), j + 7) for j in range(10)]
        live.update((r[0], r) for r in adds)
        ddf = spark.createDataFrame(dels, "id long, g string, v long")
        adf = spark.createDataFrame(adds, "id long, g string, v long")
        apply_delta(cat, "view", delta_rows(ddf, keys, meas, sign=-1), keys)
        got = {
            r.g: (r.n_rows, r.sum_v)
            for r in apply_delta(cat, "view", delta_rows(adf, keys, meas, sign=1), keys).collect()
        }
        want = {}
        for _, g, v in live.values():
            n, s = want.get(g, (0, 0))
            want[g] = (n + 1, s + v)
        assert got == want, step
    # delete an entire group: it must vanish from the view
    g1 = [r for r in live.values() if r[1] == "g1"]
    gdf = spark.createDataFrame(g1, "id long, g string, v long")
    final = apply_delta(cat, "view", delta_rows(gdf, keys, meas, sign=-1), keys)
    assert "g1" not in {r.g for r in final.collect()}
    # the view history is snapshot-versioned (time-travelable)
    assert len(cat.history("view")) >= 8


def _group_jobs(spark, group: str) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_durable_commit_is_one_job(spark, tmp_path):
    """A durable superstep commit runs exactly one Spark job, the state
    write: its read-back uses the recorded schema (no inference job) and
    lineage comes from the manifest (no lineage job). Each commit runs in
    its own job group inside the operator's group."""
    from elektra_spark.operators.lpa import label_propagation

    sc = spark.sparkContext
    edges = edges_from_pairs(spark, CHAIN[:15])
    run = CheckpointedRun(spark, str(tmp_path / "wh"), "budget")
    commits: list[tuple[str, int, str]] = []

    def counted(state: str, outer: str):
        cp = run.checkpoint_fn(state)

        def _cp(df, step):
            if step < 0:
                return cp(df, step)
            group = f"{outer}-commit-{len(commits)}"
            sc.setJobGroup(group, f"commit {state} superstep={step}")
            try:
                return cp(df, step)
            finally:
                sc.setJobGroup(outer, state)
                commits.append((state, step, group))

        _cp.durable = cp.durable
        return _cp

    sc.setJobGroup("budget-lpa", "lpa")
    label_propagation(edges, rounds=1, checkpoint=counted("lpa", "budget-lpa")).count()
    sc.setJobGroup("budget-pr", "pagerank")
    pagerank(edges, n_iter=1, kernel="df", checkpoint=counted("ranks", "budget-pr")).count()
    sc.setLocalProperty("spark.jobGroup.id", None)

    assert [(state, step) for state, step, _ in commits] == [("lpa", 1), ("ranks", 1)]
    for state, step, group in commits:
        assert len(_group_jobs(spark, group)) == 1, (state, step)
    assert _group_jobs(spark, "budget-lpa") and _group_jobs(spark, "budget-pr")
    # the start states were materialized, not committed
    for state in ("lpa", "ranks"):
        assert [s["operation"] for s in run.catalog.history(f"budget_{state}")] == ["superstep=1"]


def _stop_and_resume(run, state, op, edges, first: int, total: int):
    """Run ``first`` supersteps, 'crash', resume to ``total`` from the
    latest durable snapshot."""
    op(edges, first, run.checkpoint_fn(state), 0, None)
    step = run.latest_step(state)
    assert step == first
    return op(edges, total - step, run.checkpoint_fn(state), step, run.load(state))


def _lpa(edges, n, cp, start, init):
    from elektra_spark.operators.lpa import label_propagation

    return label_propagation(edges, rounds=n, checkpoint=cp, start_step=start, init_labels=init)


def _pr_df(edges, n, cp, start, init):
    return pagerank(edges, n_iter=n, kernel="df", checkpoint=cp, start_step=start, init_ranks=init)


def _cc_fixpoint(edges, n, cp, start, init):
    if init is None:
        both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        init = both.select(F.col("src").alias("vid")).distinct().withColumn("label", F.col("vid"))
    return _min_label_fixpoint(edges, init, max_iter=n, checkpoint=cp, start_step=start)


@pytest.mark.parametrize("state,op", [("lpa", _lpa), ("ranks", _pr_df), ("labels", _cc_fixpoint)])
def test_resume_commits_each_superstep_once(spark, tmp_path, state, op):
    """Stop after 2 supersteps and resume to 4: the state table holds
    exactly one snapshot per superstep 1..4 (neither the initial state nor
    the resumed-from snapshot is re-committed), and lineage conserves the
    row count of every superstep."""
    edges = edges_from_pairs(spark, CHAIN)
    run = CheckpointedRun(spark, str(tmp_path / "wh"), "stop")
    _stop_and_resume(run, state, op, edges, first=2, total=4).count()
    ops = [s["operation"] for s in run.catalog.history(f"stop_{state}")]
    assert ops == [f"superstep={k}" for k in range(1, 5)]
    lin = run.lineage_table().filter(F.col("state") == state)
    per_step = {r["superstep"]: r["n"] for r in lin.groupBy("superstep").agg(F.sum("rows").alias("n")).collect()}
    assert per_step == {k: 64 for k in range(1, 5)}
    assert {r["run_id"] for r in lin.collect()} == {"stop"}


def test_legacy_warehouse_loads_and_resumes(spark, tmp_path):
    """Manifests written before snapshots recorded their schema and file
    row counts still read (by schema inference) and resume."""
    import json
    import os

    root = str(tmp_path / "wh")
    run = CheckpointedRun(spark, root, "old")
    _pr_df(edges_from_pairs(spark, CHAIN), 2, run.checkpoint_fn("ranks"), 0, None).count()
    mp = os.path.join(root, "old_ranks", "_manifest.json")
    with open(mp) as f:
        man = json.load(f)
    for snap in man["snapshots"]:
        for key in ("schema", "files", "summary"):
            snap.pop(key)
    with open(mp, "w") as f:
        json.dump(man, f)

    run = CheckpointedRun(spark, root, "old")
    assert run.latest_step("ranks") == 2
    assert run.load("ranks").count() == 64
    edges = edges_from_pairs(spark, CHAIN)
    resumed = _pr_df(edges, 2, run.checkpoint_fn("ranks"), 2, run.load("ranks"))
    got = {r["vid"]: r["rank"] for r in resumed.collect()}
    want = pagerank_oracle(CHAIN, range(64), iters=4)
    assert all(abs(got[v] - want[v]) < 1e-6 for v in want)
    # the legacy snapshots carry no file counts; the new commits do
    assert {r["superstep"] for r in run.lineage_table().collect()} == {3, 4}
