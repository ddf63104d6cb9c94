"""kgp benchmark: seeded transcript corpora through the public entry points
of the knowledge-graph pipeline on local[nproc], with output checks.

  python3 perfbench/run.py --workload vocab_link --seed 1 --seconds 20 --trace 0

One run, in one driver process:

1. set-up: starting the Spark session (`session.get_spark`), generating
   the workload's corpus from the seed and staging it as parquet, then an
   untimed warm-up;
2. the workload's operations, each measured in wall time and in CPU time
   (the driver JVM, the Python workers it forks and the thread that
   drives them):
   - `vocab_link`: one operation is a graph build,
     `plans.pipeline.build_graph` over the transcripts, writing vertices
     and pred-partitioned edges the way `jobs/build_graph.py` does. The
     warm-up is one build of the whole corpus (the cold one); two more
     builds are timed;
   - `append_stream`: one operation is a landing, closed loop with one
     writer: a new-conversation parquet file is renamed into the
     transcripts directory, then `jobs/extract_triples.py` runs in its
     default full-input resume mode, `streaming.link_stream` gets one
     availableNow trigger and `linked_pairs_view` is read. The base slice
     lands as the warm-up; the next two slices' landings are timed, and
     the sequence ends with one resume on unchanged input;
3. checks against the planted truth (see checks.py).

Each workload times a fixed number of operations, so a run times the same
work on every commit; `--seconds` is accepted for the harness interface
and does not change that count. The end-to-end operation metrics are CPU
seconds less the JVM's JIT compiler threads: a fresh JVM keeps compiling
for many operations, by amounts that vary from run to run, and wall time
also stretches whenever the vCPUs wait (steal, on a shared host). Wall
times are printed on the line above the result and are per-layer
metrics of a traced run.

With `--trace 1` the same operations run with every layer call under its
own Spark job group (spans.py): `build_graph` itself runs, with the layer
functions it imports rebound to span-opening wrappers for the call.
`vocab_link` alternates untraced and traced builds, `append_stream`
traces a whole-graph build as its batch reference and adds one
slice-mode append, and the per-layer metrics (layers.py) are printed
instead of the end-to-end ones. The spans go to
`.perfbench_out/trace-<workload>-<seed>.json`.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics. Everything a run writes stays in the checkout, under
`.perfbench_work/` (removed at exit) and `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# op: what one timed operation is, and so the corpus (builds run over a
# vocabulary corpus, landings over a dense one); slices/size: the corpus
# (size is new surfaces per slice for vocab corpora, turns per slice for
# dense ones); files: parquet files per slice
WORKLOADS = {
    "vocab_link": {"op": "build", "slices": 1, "size": 8000, "files": 8},
    "append_stream": {"op": "append", "slices": 3, "size": 600, "files": 1},
}
TIMED_BUILDS = 2
WARM_UP_LANDINGS = 1  # the base slice, landed into empty tables
# the layer calls build_graph makes, by the names plans/pipeline.py
# imports them under, and the span each runs in when traced
TRACED_CALLS = {
    "extract_triples_sql": "extract",
    "mention_surfaces": "link.surfaces",
    "link_mentions": "link.pairs",
    "connected_components": "canon",
    "assign_entities": "materialize.entities",
}
MIN_COSINE = 0.5
QUALITY_BAR = 0.95


def _prerequisites_missing() -> list[str]:
    need = ["code_index_spark/plans/pipeline.py", "code_index_spark/session.py",
            "code_index_spark/streaming/link_stream.py", "jobs/extract_triples.py"]
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and make the engine importable by the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, work: str) -> None:
        from spans import RssSampler, Tracer

        self.name, self.cfg = workload, WORKLOADS[workload]
        self.seed, self.trace = seed, trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{workload}-{seed}", trace)
        self.meter = None
        self.rss = RssSampler()
        self.spark = None
        self.forced: list = []  # results a traced build persisted
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        spec = importlib.util.spec_from_file_location(
            "kgp_extract_job", os.path.join(ROOT, "jobs", "extract_triples.py"))
        self.extract_job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.extract_job)

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation or output check; False counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -------------------------------------------------------------- setup
    def _stage(self) -> list[list[str]]:
        """Generate the corpus; write each slice's parquet files to a
        staging dir (landing is a rename into the transcripts dir) and
        the planted truth beside them."""
        import corpus

        cfg = self.cfg
        make = corpus.vocab_corpus if cfg["op"] == "build" else corpus.dense_corpus
        self.corpus = make(self.seed, cfg["slices"], cfg["size"])
        root = self.path("data")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "truth"))
        staged = []
        for k, sl in enumerate(self.corpus.slices):
            d = os.path.join(root, "staging", f"slice-{k}")
            corpus.write_split(sl.turns, d, cfg["files"])
            staged.append(sorted(os.path.join(d, f) for f in os.listdir(d)))
        corpus.write_rows([t for sl in self.corpus.slices for t in sl.triples],
                          corpus.TRIPLES_SCHEMA, os.path.join(root, "truth", "triples.parquet"))
        with open(os.path.join(root, "truth", "entities.json"), "w") as f:
            json.dump({"families": self.corpus.families, "loners": self.corpus.decoys,
                       "hot_surface": self.corpus.hot_surface}, f)
        return staged

    def setup(self) -> None:
        """Session start and corpus staging; the warm-up follows in the
        workload's own run method and is added to set-up time."""
        from code_index_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "kgp-perfbench", cores=self.cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.session_start_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer.sc = sc
        from spans import CpuMeter

        self.meter = CpuMeter(sc._gateway.proc.pid)
        self.rss.watch(sc._gateway.proc.pid)
        self.staged = self._stage()
        self.stage_s = time.perf_counter() - t0

    @contextlib.contextmanager
    def measure(self):
        """Yields a dict that holds, once the block is done, its wall time
        ("s"), the CPU time of the driver JVM, the Python workers it forks
        and this thread, which drives them ("cpu_s"; the memory sampler's
        thread is left out), and the JIT compiler's share of the JVM's
        time, which "cpu_s" leaves out ("jit_s")."""
        took: dict = {}
        c0, j0 = self.meter.read()
        c0 += time.thread_time()
        t0 = time.perf_counter()
        try:
            yield took
        finally:
            took["s"] = time.perf_counter() - t0
            c1, j1 = self.meter.read()
            took["cpu_s"] = c1 + time.thread_time() - c0
            took["jit_s"] = j1 - j0

    # ------------------------------------------------------------- builds
    def build(self, input_dir: str, traced: bool) -> dict:
        """One graph build; returns its tables. Traced, the build and the
        two writes get spans and build_graph's layer calls get theirs."""
        from code_index_spark.plans.pipeline import build_graph

        out = self.path("graph")
        span = self.tracer.span if traced else (lambda name: contextlib.nullcontext())
        layers = self._layer_spans() if traced else contextlib.nullcontext()
        with span("build"):
            with layers:
                g = build_graph(self.spark.read.parquet(input_dir), min_cosine=MIN_COSINE)
            with span("materialize.vertices"):
                g["vertices"].write.mode("overwrite").parquet(os.path.join(out, "vertices"))
            with span("materialize.edges"):
                g["edges"].write.mode("overwrite").partitionBy("pred").parquet(
                    os.path.join(out, "edges"))
        return g

    @contextlib.contextmanager
    def _layer_spans(self):
        """Rebind build_graph's layer calls (TRACED_CALLS) to wrappers that
        run each call in its own span and force its result there
        (persist + count), so work lands on the layer that does it rather
        than on the layer that first reads it. The count jobs are part of
        the tracing overhead. Vertices and edges are lazy plans whose only
        action is their write, so the write spans are their layers."""
        from code_index_spark.plans import pipeline

        originals = {n: getattr(pipeline, n) for n in TRACED_CALLS}

        def wrap(fn, name):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                with self.tracer.span(name) as sp:
                    df = fn(*args, **kwargs).persist()
                    sp["attrs"]["rows_out"] = df.count()
                self.forced.append(df)
                return df
            return call

        for n, fn in originals.items():
            setattr(pipeline, n, wrap(fn, TRACED_CALLS[n]))
        try:
            yield
        finally:
            for n, fn in originals.items():
                setattr(pipeline, n, fn)

    def timed_build(self, input_dir: str, traced: bool, into: list[dict],
                    prev: dict | None) -> dict | None:
        """One build, appended to `into` as measured (see measure)."""
        for df in [*(prev or {}).values(), *self.forced]:
            df.unpersist()
        self.forced = []
        g = None
        with self.measure() as took:
            try:
                g = self.build(input_dir, traced)
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                self.notes.append(f"build raised {type(e).__name__}: {e}")
        into.append(took)
        self.check(g is not None, "build")
        return g

    def run_builds(self) -> dict:
        """An untimed warm-up build (the cold one), then TIMED_BUILDS
        timed builds; when tracing, one more untimed build comes first
        and each timed build is paired with a traced one."""
        input_dir = self.path("data", "transcripts")
        os.makedirs(input_dir)
        for f in self.staged[0]:
            os.rename(f, os.path.join(input_dir, os.path.basename(f)))
        warm: list[dict] = []
        g = self.timed_build(input_dir, False, warm, None)
        self.warm_up_s = warm[0]["s"]
        if self.trace and g is not None:
            # builds keep speeding up for many builds; one more untimed
            # build moves the traced/untraced pairs further along that
            # curve before trace.overhead_s compares them
            g = self.timed_build(input_dir, False, [], g)
        self.first_measured_span = len(self.tracer.spans)
        plain, traced = [], []
        # traced builds alternate sides of their untraced partner, so
        # builds still speeding up do not bias trace.overhead_s
        order = [False, True] if self.trace else [False]
        for i in range(TIMED_BUILDS):
            for t in order if i % 2 == 0 else order[::-1]:
                if g is not None:
                    g = self.timed_build(input_dir, t, traced if t else plain, g)
        self.plain = [o["s"] for o in plain]
        self.traced = [o["s"] for o in traced]
        if g is None:
            return {"g": None, "ops": plain, "total": plain}
        import checks

        graph = self.path("graph")
        vd = checks.table_digest(self.spark.read.parquet(os.path.join(graph, "vertices")))
        ed = checks.table_digest(self.spark.read.parquet(os.path.join(graph, "edges")))
        print(f"digest vertices={vd[0]}:{vd[1]:x} edges={ed[0]}:{ed[1]:x}")
        return {
            "g": g, "ops": plain, "total": plain,
            "triples": g["triples"], "entities": checks.entities_from_map(g["entity_map"]),
        }

    # ------------------------------------------------------------ appends
    def run_appends(self) -> dict:
        import checks

        chain = _Chain(self, self.path("data"), self.staged)
        # warm-up: the base landing (into empty tables, the cold one)
        self.warm_up_s = sum(chain.land(k)["s"] for k in range(WARM_UP_LANDINGS))
        self.first_measured_span = len(self.tracer.spans)
        chain.measured_from = len(chain.landings)
        landings = [chain.land(k) for k in range(WARM_UP_LANDINGS, len(self.staged))]
        resume = chain.resume()
        # batch reference over the same cumulative corpus: its linked
        # pairs must equal the streaming state's. A traced run builds the
        # whole graph here, which gives the build layers of a dense corpus.
        self.plain, self.traced = [], []
        g = None
        if self.trace:
            ref: list[dict] = []
            g = self.timed_build(chain.input_dir, True, ref, None)
            self.traced = [o["s"] for o in ref]
            batch = g["pairs"].collect() if g is not None else []
        else:
            from code_index_spark.operators.extract import extract_triples_sql
            from code_index_spark.operators.link import link_mentions

            batch = link_mentions(
                extract_triples_sql(self.spark.read.parquet(chain.input_dir)),
                min_cosine=MIN_COSINE).collect()
        batch = checks.pair_set(batch)
        self.check(chain.last_pairs == batch,
                   f"streaming pairs ({len(chain.last_pairs)}) != batch "
                   f"link_mentions ({len(batch)})")
        self.chain = chain
        return {
            "g": g, "ops": landings, "total": [*landings, resume],
            "triples": self.spark.read.parquet(chain.triples_dir),
            "entities": checks.entities_from_pairs(chain.last_pairs),
            "landed_turns": [sl.n_turns for sl in self.corpus.slices[WARM_UP_LANDINGS:]],
        }

    # --------------------------------------------------------------- run
    def run(self) -> dict:
        import checks

        self.setup()
        if self.cfg["op"] == "build":
            r = self.run_builds()
        else:
            r = self.run_appends()
        setup_s = self.stage_s + self.warm_up_s
        self.rss.stop()

        q = {"triple_precision": 0.0, "triple_recall": 0.0,
             "entity_precision": 0.0, "entity_recall": 0.0}
        if "triples" in r:
            truth = self.path("data", "truth")
            p, rc = checks.triple_pr(
                r["triples"], self.spark.read.parquet(os.path.join(truth, "triples.parquet")))
            q["triple_precision"], q["triple_recall"] = p, rc
            self.check(p >= QUALITY_BAR and rc >= QUALITY_BAR,
                       f"triple P/R {p:.4f}/{rc:.4f} under {QUALITY_BAR}")
            with open(os.path.join(truth, "entities.json")) as f:
                ents = json.load(f)
            e = checks.entity_pr(r["entities"], ents["families"], ents["loners"])
            q["entity_precision"], q["entity_recall"] = e["precision"], e["recall"]
            self.check(e["families_split"] == 0 and e["loners_merged"] == 0,
                       f"entities: {e['families_split']} families split, "
                       f"{e['loners_merged']} loners merged")

        wall = [o["s"] for o in r["ops"]]
        if self.cfg["op"] == "build":
            turns = sum(sl.n_turns for sl in self.corpus.slices)
            turns_per_s = turns / _median(wall)
        else:
            turns_per_s = _median([n / s for n, s in zip(r["landed_turns"], wall)])
        self.wall = {
            "op_p50_s": _median(wall),
            "op_total_s": sum(o["s"] for o in r["total"]),
            "turns_per_s": turns_per_s,
        }
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (_median([o["cpu_s"] for o in r["ops"]]), "s"),
            "op_total_cpu_s": (sum(o["cpu_s"] for o in r["total"]), "s"),
            "peak_rss_mb": (self.rss.peak_mb, "MB"),
            "triple_precision": (q["triple_precision"], "ratio"),
            "triple_recall": (q["triple_recall"], "ratio"),
            "entity_precision": (q["entity_precision"], "ratio"),
            "entity_recall": (q["entity_recall"], "ratio"),
        }
        print(f"workload={self.name} seed={self.seed} "
              f"session_s={self.session_start_s:.2f} stage_s={self.stage_s:.2f} "
              f"warm_up_s={self.warm_up_s:.2f} ops_s={[round(x, 2) for x in wall]} "
              f"ops_cpu_s={[round(o['cpu_s'], 2) for o in r['ops']]} "
              f"ops_jit_s={[round(o['jit_s'], 2) for o in r['ops']]} "
              f"traced_builds_s={[round(x, 2) for x in self.traced]} "
              f"error_rate={self.failed / max(self.attempted, 1)} "
              f"({self.failed}/{self.attempted})")
        for note in self.notes:
            print(note)
        if self.trace:
            import layers

            metrics = layers.per_layer(self, r["g"])
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out",
                                   f"trace-{self.name}-{self.seed}.json"), "w") as f:
                json.dump({"spans": self.tracer.dump(),
                           "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every Python worker, and wait for them."""
        self.rss.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        from spans import cmdline, descendants

        gw = SparkContext._gateway
        proc = gw.proc
        # the Python daemon and workers the JVM forked, by command line,
        # so a recycled pid is never signalled
        workers = {p: cmdline(p) for p in descendants(proc.pid) if p != proc.pid}
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(cmdline(p) == c for p, c in workers.items()):
            time.sleep(0.1)
        for p, c in workers.items():
            if cmdline(p) == c:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)


class _Chain:
    """The append chain over one staged corpus: transcripts dir, triples
    table + checkpoint table, streaming state + stream checkpoint."""

    def __init__(self, bench: Bench, root: str, staged: list[list[str]]) -> None:
        self.b, self.staged = bench, staged
        self.input_dir = os.path.join(root, "transcripts")
        self.triples_dir = os.path.join(root, "triples")
        self.ckpt_dir = os.path.join(root, "ckpt")
        self.state_dir = os.path.join(root, "link_state")
        self.stream_ck = os.path.join(root, "link_stream_ck")
        os.makedirs(self.input_dir, exist_ok=True)
        self.last_pairs: set[tuple] = set()
        self.landings: list[dict] = []
        self.measured_from = 0  # landings before this one are the warm-up

    def _extract_job(self) -> dict:
        argv = ["--input", self.input_dir, "--output", self.triples_dir,
                "--checkpoint", self.ckpt_dir]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.b.extract_job.main(argv)
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def _cycle(self, label: str) -> tuple[dict, dict, list]:
        """extract_triples job + one stream trigger + a view read, timed
        until the view's rows are in hand (see Bench.measure)."""
        from code_index_spark.streaming.link_stream import (
            linked_pairs_view, start_incremental_linking)

        span = self.b.tracer.span
        with self.b.measure() as took, span(label):
            with span("ckpt"):
                stats = self._extract_job()
            with span("stream_link.batch") as sp:
                q = start_incremental_linking(
                    self.b.spark, self.input_dir, self.state_dir, self.stream_ck)
                if "groups" in sp:  # streaming jobs run under the query's run id
                    sp["groups"].append(str(q.runId))
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            with span("stream_link.view"):
                rows = linked_pairs_view(self.b.spark, self.state_dir,
                                         min_cosine=MIN_COSINE).collect()
        return took, stats, rows

    def land(self, k: int) -> dict:
        import checks
        from code_index_spark.operators.extract import extract_triples_sql

        landed = [os.path.join(self.input_dir, f"slice{k}-{os.path.basename(f)}")
                  for f in self.staged[k]]
        for src, dst in zip(self.staged[k], landed):
            os.rename(src, dst)
        try:
            dt, stats, rows = self._cycle("append")
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.b.notes.append(f"landing {k} raised {type(e).__name__}: {e}")
            self.b.check(False, f"landing {k}")
            return {"s": float("nan"), "cpu_s": float("nan")}
        self.b.check(True, f"landing {k}")
        self.last_pairs = checks.pair_set(rows)
        if k > 0:  # later landings check the table the base landing began
            spark = self.b.spark
            got, want = checks.triples_digests(
                spark.read.parquet(self.triples_dir),
                extract_triples_sql(spark.read.parquet(self.input_dir)))
            self.b.check(got == want, f"landing {k}: triples table {got} != "
                                      f"from-scratch extraction {want}")
        landing = {"k": k, "s": dt["s"], "stats": stats}
        if self.b.trace:
            import layers

            landing["extras"] = layers.chain_extras(self.b, self, landed)
        self.landings.append(landing)
        return dt

    def resume(self) -> dict:
        import checks

        try:
            dt, stats, rows = self._cycle("resume")
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.b.notes.append(f"resume raised {type(e).__name__}: {e}")
            self.b.check(False, "resume")
            return {"s": float("nan"), "cpu_s": float("nan")}
        self.b.check(stats.get("processed_buckets") == 0
                     and checks.pair_set(rows) == self.last_pairs,
                     f"unchanged resume processed {stats.get('processed_buckets')} buckets")
        return dt


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the harness interface; operation counts are fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = _prerequisites_missing()
    if missing:
        print(f"perfbench: the engine is not in this checkout (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    bench = Bench(args.workload, args.seed, bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
