"""The benchmark's workloads. Each one

- ``prepare()``: generates its seeded inputs as parquet and computes every
  oracle answer, before Spark starts (not part of ``setup_s``);
- ``load(spark)``: reads its input tables and materialises them (the last
  step of set-up);
- ``run_pass(pass_id)``: one timed pass of public engine calls, each in a
  span that ends in an action, followed by untimed oracle checks;
- ``after_measure()``, if it has one: traced run only, calls after the
  measured passes whose spans some per-layer readings need;
- ``layers()``: its per-layer readings, from the spans of the warm passes.

Sizes are chosen so that one run, including set-up, fits the benchmark's
time budget on a 4-core host; the engine's per-job and per-superstep costs,
not the data volume, dominate at these sizes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile

import numpy as np
import pandas as pd

from . import inputs, oracles
from .oracles import check
from .trace import commits_under, dir_stats


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Workload:
    """Shared plumbing: span helpers and per-pass aggregation."""

    name = ""

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.pass_ids: list[str] = []  # measured passes, cold first
        self.extra: dict[str, list[float]] = {}  # per-pass readings outside spans
        os.makedirs(work, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def ephemeral(self):
        """The engine's default superstep checkpointer, with its scratch
        under the run's work directory instead of the default /dev/shm."""
        from elektra_spark.operators.cc import EphemeralCheckpointer

        return EphemeralCheckpointer(scratch=tempfile.mkdtemp(prefix="ckpt-", dir=self.work))

    def span(self, name: str, pass_rec: dict):
        return self.tracer.span(name, pass_rec["pass"], parent=pass_rec["id"])

    def record(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(float(value))

    # -- per-layer aggregation over warm passes ------------------------------
    def warm(self) -> list[str]:
        return self.pass_ids[1:]

    def per_pass(self, names, field: str = "dur", pass_ids=None) -> list[float]:
        names = (names,) if isinstance(names, str) else names
        out = []
        for pid in self.warm() if pass_ids is None else pass_ids:
            spans = [s for s in self.tracer.ops(pid) if s["name"] in names]
            out.append(sum((s["end"] - s["start"]) if field == "dur" else s.get(field, 0)
                           for s in spans))
        return out

    def layer(self, names, field: str = "dur") -> float:
        return med(self.per_pass(names, field))

    def extra_med(self, key: str) -> float:
        # readings are appended once per measured pass; skip the cold one
        return med(self.extra.get(key, [])[1:])

    def common_layers(self) -> dict[str, float]:
        ops = {op: {f"{op}.call_s": self.layer(op), f"{op}.jobs": self.layer(op, "jobs"),
                    f"{op}.shuffle_write_bytes": self.layer(op, "shuffle_write_bytes")}
               for op in ("cc", "lpa")}
        return {
            **ops["cc"], **ops["lpa"],
            "session.local_dir_bytes": self.extra_med("local_dir_bytes"),
            "jvm.gc_s": self.extra_med("gc_s"),
            "jvm.heap_used_mb": max(self.extra.get("heap_used_mb", [0.0])),
        }

    def after_pass(self, local_dir: str, gc_before: float) -> None:
        self.record("local_dir_bytes", dir_stats(local_dir)[0])
        gc_s, heap_mb = self.tracer.jvm()
        self.record("gc_s", gc_s - gc_before)
        self.record("heap_used_mb", heap_mb)


class TranscriptJobs(Workload):
    """The transcript-graph user, one client in a closed loop. Each pass runs
    the production CLI jobs: ingest; durable PageRank stopped and resumed
    from the latest committed superstep, the resumed call reusing the first
    call's bsp prep directory; durable CC and LPA.

    A traced run then also runs the stream-updates user on the last pass's
    graph: ``DynamicGraph.create``, then batches of seeded
    cross-conversation inserts (merge components), deletes of existing
    reply edges (tree edges: split components) and a ``batch_connected``
    query. It runs only when traced because a run cannot fit it into the
    benchmark's time budget beside the CLI passes."""

    name = "transcript_jobs"
    N_CONVERSATIONS = 400
    PR_FIRST = 1  # supersteps before the simulated stop
    PR_TOTAL = 2
    LPA_ROUNDS = 1
    BATCHES = 3
    INSERTS = 100  # per batch
    DELETES = 100
    QUERIES = 500

    def prepare(self) -> dict:
        tx = inputs.transcripts(self.N_CONVERSATIONS, self.seed)
        tx.to_parquet(self.path("transcripts.parquet"), index=False, coerce_timestamps="us")
        g = inputs.transcript_graph(tx)
        self.graph = g
        self.vids = np.sort(g.vertices["vid"].to_numpy().astype(np.int64))
        self.expect = {
            "pr_first": oracles.pagerank(self.vids, g.src, g.dst, self.PR_FIRST, directed=False),
            "pr_total": oracles.pagerank(self.vids, g.src, g.dst, self.PR_TOTAL, directed=False),
            "cc": oracles.min_labels(self.vids, g.src, g.dst),
            "lpa": oracles.label_propagation(self.vids, g.src, g.dst, self.LPA_ROUNDS),
        }
        self.text = tx[["conv_id", "turn_idx", "text"]]
        turns = g.vertices[g.vertices["kind"] == "turn"].sort_values("vid")
        self.turn_conv = pd.factorize(turns["conv_id"])[0]  # conversation of turn vid i
        self.live = set(zip(g.src.tolist(), g.dst.tolist()))  # the dynamic graph's edges
        self.rng = np.random.default_rng([self.seed, 3])
        return {"conversations": self.N_CONVERSATIONS, "turns": len(tx),
                "vertices": len(self.vids), "edges": len(g.src),
                "pagerank_supersteps": self.PR_TOTAL, "lpa_rounds": self.LPA_ROUNDS,
                "traced_batches": self.BATCHES, "inserts_per_batch": self.INSERTS,
                "deletes_per_batch": self.DELETES, "queries_per_batch": self.QUERIES}

    def load(self, spark) -> None:
        self.spark = spark
        self.tx = spark.read.parquet(self.path("transcripts.parquet")).localCheckpoint(eager=True)

    def frame(self, rows, columns):
        """A batch as a materialised DataFrame, built before its span starts."""
        pdf = pd.DataFrame(rows, columns=columns, dtype="int64")
        return self.spark.createDataFrame(pdf).localCheckpoint(eager=True)

    def next_batch(self):
        """Seeded batch over the live edge set → (inserts, deletes, queries)."""
        n_turns = len(self.turn_conv)
        u = self.rng.integers(0, n_turns, 4 * self.INSERTS)
        w = self.rng.integers(0, n_turns, 4 * self.INSERTS)
        ins = []
        for a, b in zip(np.minimum(u, w).tolist(), np.maximum(u, w).tolist()):
            if self.turn_conv[a] != self.turn_conv[b] and (a, b) not in self.live and (a, b) not in ins:
                ins.append((a, b))
            if len(ins) == self.INSERTS:
                break
        reply = sorted(e for e in self.live
                       if e[1] == e[0] + 1 and e[1] < n_turns and self.turn_conv[e[0]] == self.turn_conv[e[1]])
        pick = self.rng.choice(len(reply), size=min(self.DELETES, len(reply)), replace=False)
        dels = [reply[i] for i in sorted(pick)]
        queries = self.rng.choice(self.vids, size=(self.QUERIES, 2))
        return ins, dels, queries

    def run_pass(self, pid: str) -> None:
        from elektra_spark.checkpoint import CheckpointedRun
        from elektra_spark.ingest.edges import derive_graph
        from elektra_spark.operators.cc import connected_components
        from elektra_spark.operators.lpa import label_propagation
        from elektra_spark.operators.pagerank import pagerank

        ck, prep = self.path(f"ckpt-{pid}"), self.path(f"prep-{pid}")
        with self.tracer.pass_(pid) as p:
            with self.span("ingest.derive", p) as s:
                g = derive_graph(self.tx)
                v = g.vertices.localCheckpoint(eager=True)
                e = g.edges.localCheckpoint(eager=True)
                s["edges"] = e.count()
            run = CheckpointedRun(self.spark, ck, "job")
            with self.span("pagerank.first", p):
                r1 = pagerank(e, vertices=v, n_iter=self.PR_FIRST, kernel="auto",
                              checkpoint=run.checkpoint_fn("ranks"), bsp_prep_dir=prep)
                noop(r1)
            with self.span("checkpoint.resume", p):
                step = run.latest_step("ranks")
                init = run.load("ranks")
            with self.span("pagerank.resume", p):
                r2 = pagerank(e, vertices=v, n_iter=self.PR_TOTAL - step, kernel="auto",
                              checkpoint=run.checkpoint_fn("ranks"), start_step=step,
                              init_ranks=init, bsp_prep_dir=prep).toPandas()
            with self.span("cc", p):
                cc = connected_components(e, vertices=v, checkpoint=run.checkpoint_fn("cc")).toPandas()
            with self.span("lpa", p):
                comm = label_propagation(e, vertices=v, rounds=self.LPA_ROUNDS,
                                         checkpoint=run.checkpoint_fn("lpa")).toPandas()

        check(step == self.PR_FIRST, f"resume found superstep {step}, expected {self.PR_FIRST}")
        self.check_graph(v, e, first=pid == "p0")
        oracles.check_ranks(run.load("ranks", step=self.PR_FIRST).toPandas(), self.vids,
                            self.expect["pr_first"], "pagerank before stop")
        oracles.check_ranks(r2, self.vids, self.expect["pr_total"], "resumed pagerank")
        oracles.check_labels(cc, "component", self.vids, self.expect["cc"], "cc")
        oracles.check_labels(comm, "label", self.vids, self.expect["lpa"], "lpa")

        self.record("commits", commits_under(ck))
        self.record("ckpt_bytes", dir_stats(ck)[0])
        self.last_graph = (v, e)
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(prep, ignore_errors=True)

    def check_graph(self, v, e, first: bool) -> None:
        from elektra_spark.ingest.edges import reconstruct_transcript_text

        got = e.toPandas().sort_values(["src", "dst"])
        check(np.array_equal(got["src"].to_numpy(), self.graph.src)
              and np.array_equal(got["dst"].to_numpy(), self.graph.dst), "derived edges differ")
        want = self.graph.vertices.sort_values("vid")
        vg = v.toPandas().sort_values("vid")
        check(np.array_equal(vg["vid"].to_numpy(), want["vid"].to_numpy())
              and list(vg["conv_id"].fillna("")) == list(want["conv_id"].fillna(""))
              and list(vg["tool"].fillna("")) == list(want["tool"].fillna("")), "derived vertices differ")
        if first:  # per-turn text equality, once per run
            txt = reconstruct_transcript_text(v, self.tx).toPandas()
            merged = self.text.merge(txt, on=["conv_id", "turn_idx"], how="outer",
                                     suffixes=("", "_got"), indicator=True)
            check((merged["_merge"] == "both").all() and (merged["text"] == merged["text_got"]).all(),
                  "reconstructed transcript text differs")

    def after_measure(self) -> None:
        """Traced run only, after the measured passes, on the last pass's
        graph: ephemeral twins of the durable PageRank and LPA calls, so
        their checkpoint overhead can be read off; then the stream-updates
        user."""
        from elektra_spark.operators.lpa import label_propagation
        from elektra_spark.operators.pagerank import pagerank

        v, e = self.last_graph
        prep = self.path("prep-twin")
        with self.tracer.pass_("twin") as p:
            with self.span("pagerank.first", p):
                t1 = pagerank(e, vertices=v, n_iter=self.PR_FIRST, kernel="auto",
                              checkpoint=self.ephemeral(), bsp_prep_dir=prep)
                noop(t1)
            with self.span("pagerank.resume", p):
                t2 = pagerank(e, vertices=v, n_iter=self.PR_TOTAL - self.PR_FIRST, kernel="auto",
                              start_step=self.PR_FIRST, init_ranks=t1, checkpoint=self.ephemeral(),
                              bsp_prep_dir=prep).toPandas()
            with self.span("lpa", p):
                comm = label_propagation(e, vertices=v, rounds=self.LPA_ROUNDS,
                                         checkpoint=self.ephemeral()).toPandas()
        oracles.check_ranks(t2, self.vids, self.expect["pr_total"], "ephemeral pagerank")
        oracles.check_labels(comm, "label", self.vids, self.expect["lpa"], "ephemeral lpa")
        self.stream(v, e)

    def stream(self, v, e) -> None:
        """``DynamicGraph.create``, then ``BATCHES`` insert/delete/query
        batches, each checked against union-find on the live edge set."""
        from elektra_spark.dynamic.updates import DynamicGraph
        from elektra_spark.tables import SnapshotCatalog

        catalog = SnapshotCatalog(self.spark, self.path("warehouse"))
        with self.tracer.pass_("create") as p:
            with self.span("dynamic.create", p):
                dynamic = DynamicGraph.create(catalog, e, vertices=v)
        self.tables = [(commits_under(catalog.root), *dir_stats(catalog.root))]
        for k in range(self.BATCHES):
            ins, dels, queries = self.next_batch()
            ins_df, del_df = self.frame(ins, ["src", "dst"]), self.frame(dels, ["src", "dst"])
            q_df = self.frame(queries, ["u", "v"])
            with self.tracer.pass_(f"batch{k}") as p:
                with self.span("dynamic.add", p):
                    dynamic.batch_add_edges(ins_df)
                with self.span("dynamic.delete", p):
                    dynamic.batch_delete_edges(del_df)
                with self.span("dynamic.query", p):
                    answers = dynamic.batch_connected(q_df).toPandas()
            self.check_dynamic(dynamic, ins, dels, queries, answers, k)
            live = sum(dir_stats(path)[0] for path in catalog.history("graph_edges")[-1]["paths"])
            self.tables.append((commits_under(catalog.root), *dir_stats(catalog.root), live))

    def check_dynamic(self, dynamic, ins, dels, queries, answers: pd.DataFrame, k: int) -> None:
        """Labels against union-find on the live edge set, and every
        ``batch_connected`` answer."""
        self.live.update(ins)
        self.live.difference_update(dels)
        src, dst = np.array(sorted(self.live), dtype=np.int64).T
        want = oracles.min_labels(self.vids, src, dst)
        oracles.check_labels(dynamic.labels().toPandas(), "component", self.vids, want,
                             f"dynamic labels after batch {k}")
        comp = dict(zip(self.vids.tolist(), want.tolist()))
        answers = answers.sort_values(["u", "v"])
        expect = sorted((int(a), int(b)) for a, b in queries)
        check([(int(a), int(b)) for a, b in zip(answers["u"], answers["v"])] == expect
              and all(c == (comp[a] == comp[b]) for (a, b), c in zip(expect, answers["connected"])),
              f"batch_connected answers differ in batch {k}")

    def layers(self) -> dict[str, float]:
        pr_names = ("pagerank.first", "pagerank.resume")
        last = self.pass_ids[-1:]
        durable_pr = self.per_pass(pr_names + ("checkpoint.resume",), pass_ids=last)
        durable_lpa = self.per_pass("lpa", pass_ids=last)
        twin_pr = self.per_pass(pr_names, pass_ids=["twin"])
        twin_lpa = self.per_pass("lpa", pass_ids=["twin"])
        msgs = 2 * len(self.graph.src) * self.PR_TOTAL
        batches = [f"batch{k}" for k in range(self.BATCHES)]
        # catalog readings (commits, bytes, files[, live edge bytes]) after
        # create and after each batch; a batch's writes are the difference
        commits, size = ([b[i] - a[i] for a, b in zip(self.tables, self.tables[1:])] for i in (0, 1))
        live = [t[3] for t in self.tables[1:]]
        add = self.per_pass("dynamic.add", pass_ids=batches)
        delete = self.per_pass("dynamic.delete", pass_ids=batches)
        return {
            "ingest.derive_s": self.layer("ingest.derive"),
            "ingest.edges": self.layer("ingest.derive", "edges"),
            "ingest.shuffle_write_bytes": self.layer("ingest.derive", "shuffle_write_bytes"),
            "pagerank.first_s": self.layer("pagerank.first"),
            "pagerank.resume_s": self.layer("pagerank.resume"),
            **pagerank_layers(self, pr_names, msgs, self.PR_TOTAL),
            "checkpoint.commits": self.extra_med("commits"),
            "checkpoint.bytes_written": self.extra_med("ckpt_bytes"),
            "checkpoint.resume_s": self.layer("checkpoint.resume"),
            "checkpoint.pagerank_overhead_s": durable_pr[0] - twin_pr[0],
            "checkpoint.lpa_overhead_s": durable_lpa[0] - twin_lpa[0],
            "tables.commits_per_batch": med(commits),
            "tables.bytes_written_per_batch": med(size),
            "tables.files": self.tables[-1][2],
            "tables.write_amp": med(b / l for b, l in zip(size, live) if l),
            "dynamic.create_s": med(self.per_pass("dynamic.create", pass_ids=["create"])),
            "dynamic.add_p50_s": med(add),
            "dynamic.add_max_s": max(add),
            "dynamic.delete_p50_s": med(delete),
            "dynamic.delete_max_s": max(delete),
            "dynamic.query_p50_s": med(self.per_pass("dynamic.query", pass_ids=batches)),
            "dynamic.batches": float(len(add)),
            "dynamic.jobs_per_batch": med(self.per_pass(("dynamic.add", "dynamic.delete", "dynamic.query"),
                                                        "jobs", pass_ids=batches)),
        }


def pagerank_layers(wl: Workload, names, msgs_per_pass: int, supersteps: int) -> dict[str, float]:
    secs = wl.per_pass(names)
    return {
        "pagerank.call_s": med(secs),
        "pagerank.edge_msgs_per_s": med(msgs_per_pass / s for s in secs if s > 0),
        "pagerank.jobs_per_superstep": wl.layer(names, "jobs") / supersteps,
        "pagerank.shuffle_write_bytes": wl.layer(names, "shuffle_write_bytes"),
        "pagerank.spill_bytes": wl.layer(names, "spill_disk_bytes"),
        "pagerank.executor_run_s": wl.layer(names, "executor_run_ms") / 1000.0,
        "pagerank.task_skew": med(
            max((s.get("task_skew", 1.0) for s in wl.tracer.ops(pid) if s["name"] in names),
                default=1.0)
            for pid in wl.warm()),
    }


class RmatWedges(Workload):
    """Skewed, triangle-rich graph: wedge joins, the df PageRank kernel with
    dangling vertices, CC on hubs. No ingest, bsp, checkpoint or tables."""

    name = "rmat_wedges"
    SCALE = 13
    RAW_EDGES = 30_000
    PR_SUPERSTEPS = 2
    MAX_PIVOT_DEGREE = 160  # adamic_adar's default hub guard
    TOP_K = 100

    def prepare(self) -> dict:
        import duckdb
        from elektra_spark.ingest.rmat import rmat_edges_sql

        raw = duckdb.sql(rmat_edges_sql(self.RAW_EDGES, self.SCALE, seed=self.seed)).df()
        raw_src, raw_dst = raw["src"].to_numpy(), raw["dst"].to_numpy()
        loop = raw_src == raw_dst
        self.usrc, self.udst = inputs.canonical(raw_src, raw_dst)
        self.dsrc, self.ddst = inputs.distinct(raw_src[~loop], raw_dst[~loop])
        pd.DataFrame({"src": self.usrc, "dst": self.udst}).to_parquet(self.path("undirected.parquet"))
        pd.DataFrame({"src": self.dsrc, "dst": self.ddst}).to_parquet(self.path("directed.parquet"))
        self.uvids = np.unique(np.concatenate([self.usrc, self.udst]))
        self.dvids = np.unique(np.concatenate([self.dsrc, self.ddst]))
        self.wedges = oracles.guarded_wedges(self.usrc, self.udst, self.MAX_PIVOT_DEGREE)
        self.expect = {
            "triangles": oracles.triangle_count(self.usrc, self.udst),
            "aa": oracles.adamic_adar(self.usrc, self.udst, self.MAX_PIVOT_DEGREE, self.TOP_K),
            "pr": oracles.pagerank(self.dvids, self.dsrc, self.ddst, self.PR_SUPERSTEPS, directed=True),
            "cc": oracles.min_labels(self.uvids, self.usrc, self.udst),
        }
        dangling = len(self.dvids) - len(np.unique(self.dsrc))
        return {"scale": self.SCALE, "raw_edges": self.RAW_EDGES, "vertices": len(self.uvids),
                "edges": len(self.usrc), "directed_edges": len(self.dsrc),
                "dangling_vertices": dangling, "wedges": self.wedges,
                "triangles": self.expect["triangles"], "pagerank_supersteps": self.PR_SUPERSTEPS}

    def load(self, spark) -> None:
        self.spark = spark
        self.undirected = spark.read.parquet(self.path("undirected.parquet")).localCheckpoint(eager=True)
        self.directed = spark.read.parquet(self.path("directed.parquet")).localCheckpoint(eager=True)

    def run_pass(self, pid: str) -> None:
        from elektra_spark.operators.cc import connected_components
        from elektra_spark.operators.linkpred import adamic_adar
        from elektra_spark.operators.pagerank import pagerank
        from elektra_spark.operators.triangles import triangle_count

        with self.tracer.pass_(pid) as p:
            with self.span("triangles", p):
                tri = triangle_count(self.undirected).collect()[0][0]
            with self.span("linkpred", p):
                top = adamic_adar(self.undirected, max_pivot_degree=self.MAX_PIVOT_DEGREE,
                                  top_k=self.TOP_K).toPandas()
            with self.span("pagerank.directed", p):
                pr = pagerank(self.directed, directed=True, kernel="df", n_iter=self.PR_SUPERSTEPS,
                              checkpoint=self.ephemeral()).toPandas()
            with self.span("cc", p):
                cc = connected_components(self.undirected, checkpoint=self.ephemeral()).toPandas()

        check(tri == self.expect["triangles"], f"triangle count {tri} != {self.expect['triangles']}")
        want = self.expect["aa"]
        check(top[["a", "b", "common_neighbors"]].astype("int64").values.tolist()
              == want[["a", "b", "common_neighbors"]].astype("int64").values.tolist()
              and np.allclose(top["aa_score"], want["aa_score"], rtol=0, atol=2e-6),
              "adamic_adar top-k differs from DuckDB")
        oracles.check_ranks(pr, self.dvids, self.expect["pr"], "directed pagerank")
        oracles.check_labels(cc, "component", self.uvids, self.expect["cc"], "cc")

    def layers(self) -> dict[str, float]:
        lp_records = self.layer("linkpred", "shuffle_write_records")
        return {
            "pagerank.directed_s": self.layer("pagerank.directed"),
            **pagerank_layers(self, ("pagerank.directed",), len(self.dsrc) * self.PR_SUPERSTEPS,
                              self.PR_SUPERSTEPS),
            "triangles.call_s": self.layer("triangles"),
            "triangles.shuffle_records": self.layer("triangles", "shuffle_write_records"),
            "triangles.spill_bytes": self.layer("triangles", "spill_disk_bytes"),
            "linkpred.call_s": self.layer("linkpred"),
            "linkpred.shuffle_records": lp_records,
            "linkpred.spill_bytes": self.layer("linkpred", "spill_disk_bytes"),
            "linkpred.wedges": float(self.wedges),
            "linkpred.records_per_wedge": lp_records / self.wedges if self.wedges else 0.0,
            "checkpoint.commits": float(commits_under(self.work)),
        }


WORKLOADS = {w.name: w for w in (RmatWedges, TranscriptJobs)}
