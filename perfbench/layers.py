"""Per-layer metrics of a traced run, from the spans and Spark counters
recorded by spans.Tracer, plus the slice-mode append that keeps the
known incremental-mode defect of `sources.checkpoint` visible.
"""

from __future__ import annotations

import contextlib
import inspect
import io
import os
import statistics

from spans import self_time


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _child(tr, parent: dict, name: str) -> dict:
    return next(s for s in tr.spans if s["parent"] == parent["id"] and s["name"] == name)


def _sum(spans: list[dict], key: str) -> float:
    return sum(s["counters"][key] for s in spans)


def slice_defect(bench) -> int:
    """Two disjoint conversation halves of the first slice appended with
    `jobs/extract_triples.py --incremental`: each half overwrites every
    bucket it touches, so triples of the other half are lost. Returns
    the number of triples missing against a from-scratch extraction."""
    import corpus
    from code_index_spark.operators.extract import extract_triples_sql

    turns = bench.corpus.slices[0].turns
    convs = sorted({t[0] for t in turns})
    halves = [set(convs[:len(convs) // 2]), set(convs[len(convs) // 2:])]
    root = bench.path("slice_mode")
    out, ck = os.path.join(root, "triples"), os.path.join(root, "ckpt")
    for i, half in enumerate(halves):
        d = os.path.join(root, f"in{i}")
        os.makedirs(d)
        corpus.write_rows([t for t in turns if t[0] in half], corpus.TRANSCRIPTS_SCHEMA,
                          os.path.join(d, "part.parquet"))
        with contextlib.redirect_stdout(io.StringIO()):
            bench.extract_job.main(["--input", d, "--output", out, "--checkpoint", ck,
                                    "--incremental"])
    spark = bench.spark
    both = spark.read.parquet(os.path.join(root, "in0"), os.path.join(root, "in1"))
    want = extract_triples_sql(both).count()
    return want - spark.read.parquet(out).count()


def chain_extras(bench, chain, landed_files: list[str]) -> dict:
    """Landing-side counts taken after the timed cycle: turns in the
    buckets the landing touched (what full-input resume re-extracts),
    surfaces new to the linking state, and the state's size on disk."""
    from pyspark.sql import functions as F

    from code_index_spark.sources.checkpoint import bucket_hashes, with_partition_id
    from code_index_spark.streaming.link_stream import surfaces_state_view

    spark = bench.spark
    landed = spark.read.parquet(*landed_files)
    touched = with_partition_id(landed).select("partition_id").distinct()
    row = (bucket_hashes(spark.read.parquet(chain.input_dir))
           .join(touched, "partition_id")
           .agg(F.sum("n_turns").alias("t"), F.count("*").alias("b")).first())
    n_surf = surfaces_state_view(spark, chain.state_dir).count()
    return {
        "landed_turns": landed.count(),
        "touched_turns": row["t"] or 0,
        "touched_buckets": row["b"] or 0,
        "surfaces": n_surf,
        "state_mb": _dir_mb(chain.state_dir),
    }


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024 * 1024)


def _build_layers(bench, g: dict) -> dict:
    from code_index_spark.operators.canon import connected_components

    tr = bench.tracer
    builds = [s for s in tr.spans[bench.first_measured_span:]
              if s["name"] == "build" and s["parent"] is None]
    m: dict[str, float] = {}

    def per_build(name: str) -> list[dict]:
        return [_child(tr, b, name) for b in builds]

    ex = per_build("extract")
    m["extract.busy_s"] = _med([_dur(s) for s in ex])
    m["extract.cpu_s"] = _med([s["counters"]["cpu_s"] for s in ex])
    m["extract.gc_s"] = _med([s["counters"]["gc_s"] for s in ex])
    m["extract.task_skew"] = _med([s["counters"]["task_skew"] for s in ex])
    m["extract.jobs"] = _med([s["counters"]["jobs"] for s in ex])
    m["extract.triples_out"] = ex[-1]["attrs"]["rows_out"]

    ls, lp = per_build("link.surfaces"), per_build("link.pairs")
    link = list(zip(ls, lp))
    m["link.surfaces_s"] = _med([_dur(s) for s in ls])
    m["link.pairs_s"] = _med([_dur(s) for s in lp])
    m["link.cpu_s"] = _med([_sum(x, "cpu_s") for x in link])
    m["link.shuffle_write_mb"] = _med([_sum(x, "shuffle_write_mb") for x in link])
    m["link.shuffle_records"] = _med([_sum(x, "shuffle_records") for x in link])
    m["link.spill_mb"] = _med([_sum(x, "spill_mb") for x in link])
    m["link.jobs"] = _med([_sum(x, "jobs") for x in link])
    m["link.surfaces_out"] = ls[-1]["attrs"]["rows_out"]
    m["link.pairs_out"] = n_pairs = lp[-1]["attrs"]["rows_out"]
    recs = m["link.shuffle_records"]
    m["link.pair_yield"] = n_pairs / recs if recs else 0.0

    cc = per_build("canon")
    m["canon.busy_s"] = _med([_dur(s) for s in cc])
    m["canon.jobs"] = _med([s["counters"]["jobs"] for s in cc])
    m["canon.edges_in"] = n_pairs
    m["canon.components_out"] = g["components"].select("component").distinct().count()
    cut = inspect.signature(connected_components).parameters["driver_max_edges"].default
    for s in cc:  # the branch connected_components takes, as a label
        s["attrs"]["branch"] = "driver_union_find" if n_pairs <= cut else "star_loop"

    ents = per_build("materialize.entities")
    verts = per_build("materialize.vertices")
    edges = per_build("materialize.edges")
    mat = list(zip(ents, verts, edges))
    m["materialize.entities_s"] = _med([_dur(s) for s in ents])
    m["materialize.vertices_s"] = _med([_dur(s) for s in verts])
    m["materialize.edges_s"] = _med([_dur(s) for s in edges])
    m["materialize.shuffle_write_mb"] = _med([_sum(x, "shuffle_write_mb") for x in mat])
    m["materialize.task_skew"] = _med([s["counters"]["task_skew"] for s in edges])
    m["materialize.jobs"] = _med([_sum(x, "jobs") for x in mat])
    graph = bench.path("graph")
    m["materialize.edges_out"] = bench.spark.read.parquet(os.path.join(graph, "edges")).count()
    m["materialize.write_mb"] = _dir_mb(graph)

    # self time per layer (build.self_s: time in no layer), traced vs
    # untraced build time, and the work split the workloads are built on
    m["extract.self_s"] = m["extract.busy_s"]
    m["link.self_s"] = _med([_dur(a) + _dur(b) for a, b in link])
    m["canon.self_s"] = m["canon.busy_s"]
    m["materialize.self_s"] = _med([sum(_dur(s) for s in x) for x in mat])
    m["build.self_s"] = _med([self_time(tr.spans, b) for b in builds])
    traced = _med(bench.traced)
    m["trace.build_s"] = traced
    if bench.plain:
        # each traced build runs right after an untraced one, both warm
        m["trace.untraced_build_s"] = _med(bench.plain)
        m["trace.overhead_s"] = _med([t - p for p, t in zip(bench.plain, bench.traced)])
    m["split.extract_materialize_share"] = (
        m["extract.self_s"] + m["materialize.self_s"]) / traced
    m["split.link_share"] = m["link.self_s"] / traced
    return m


def _chain_layers(bench) -> dict:
    tr, chain = bench.tracer, bench.chain
    measured = tr.spans[bench.first_measured_span:]
    apps = [s for s in measured if s["name"] == "append" and s["parent"] is None]
    ck = [_child(tr, a, "ckpt") for a in apps]
    sb = [_child(tr, a, "stream_link.batch") for a in apps]
    sv = [_child(tr, a, "stream_link.view") for a in apps]
    warm = chain.measured_from
    lands = chain.landings[warm:]
    ext = [x["extras"] for x in chain.landings]
    m: dict[str, float] = {}
    m["ckpt.busy_s"] = _med([_dur(s) for s in ck])
    m["ckpt.jobs"] = _med([s["counters"]["jobs"] for s in ck])
    m["ckpt.buckets_processed"] = _med([x["stats"]["processed_buckets"] for x in lands])
    m["ckpt.reextract_ratio"] = _med(
        [e["touched_turns"] / e["landed_turns"] for e in ext[warm:]])
    m["ckpt.write_mb"] = _med([s["counters"]["output_mb"] for s in ck])
    resume = next(s for s in measured if s["name"] == "resume" and s["parent"] is None)
    m["ckpt.noop_s"] = _dur(_child(tr, resume, "ckpt"))
    m["ckpt.slice_lost_triples"] = slice_defect(bench)
    m["stream_link.batch_s"] = _med([_dur(s) for s in sb])
    m["stream_link.view_s"] = _med([_dur(s) for s in sv])
    m["stream_link.jobs"] = _med(
        [a["counters"]["jobs"] + b["counters"]["jobs"] for a, b in zip(sb, sv)])
    m["stream_link.new_surfaces"] = _med(
        [b["surfaces"] - a["surfaces"] for a, b in zip(ext[warm - 1:], ext[warm:])])
    m["stream_link.state_mb"] = ext[-1]["state_mb"]
    # how much of an append is task work: executor run time over wall
    # time x task slots (low = fixed per-job cost dominates)
    kids = [[s for s in tr.spans if s["parent"] == a["id"]] for a in apps]
    m["append.jobs"] = _med([_sum(k, "jobs") for k in kids])
    m["append.executor_util"] = _med(
        [_sum(k, "run_s") / (_dur(a) * bench.cores) for k, a in zip(kids, apps)])
    return m


# every per-layer metric and its unit; a layer a workload does not run
# reports 0 (no time spent, no work done)
UNITS = {
    "op_p50_s": "s", "op_total_s": "s", "turns_per_s": "1/s",
    "session.start_s": "s",
    "extract.busy_s": "s", "extract.cpu_s": "s", "extract.gc_s": "s",
    "extract.task_skew": "ratio", "extract.jobs": "count", "extract.triples_out": "count",
    "extract.self_s": "s",
    "link.surfaces_s": "s", "link.pairs_s": "s", "link.cpu_s": "s",
    "link.shuffle_write_mb": "MB", "link.shuffle_records": "count", "link.spill_mb": "MB",
    "link.jobs": "count", "link.surfaces_out": "count", "link.pairs_out": "count",
    "link.pair_yield": "ratio", "link.self_s": "s",
    "canon.busy_s": "s", "canon.jobs": "count", "canon.edges_in": "count",
    "canon.components_out": "count", "canon.self_s": "s",
    "materialize.entities_s": "s", "materialize.vertices_s": "s",
    "materialize.edges_s": "s", "materialize.shuffle_write_mb": "MB",
    "materialize.task_skew": "ratio", "materialize.jobs": "count",
    "materialize.edges_out": "count", "materialize.write_mb": "MB",
    "materialize.self_s": "s",
    "build.self_s": "s", "trace.build_s": "s", "trace.untraced_build_s": "s",
    "trace.overhead_s": "s", "split.extract_materialize_share": "ratio",
    "split.link_share": "ratio",
    "ckpt.busy_s": "s", "ckpt.jobs": "count", "ckpt.buckets_processed": "count",
    "ckpt.reextract_ratio": "ratio", "ckpt.write_mb": "MB", "ckpt.noop_s": "s",
    "ckpt.slice_lost_triples": "count",
    "stream_link.batch_s": "s", "stream_link.view_s": "s", "stream_link.jobs": "count",
    "stream_link.new_surfaces": "count", "stream_link.state_mb": "MB",
    "append.jobs": "count", "append.executor_util": "ratio",
    "spark.jobs_total": "count",
}


def per_layer(bench, g: dict | None) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    bench.tracer.collect_counters()
    m = {k: 0.0 for k in UNITS}
    m.update(bench.wall)  # wall time of the timed operations
    m["session.start_s"] = bench.session_start_s
    if g is not None:
        m.update(_build_layers(bench, g))
    if bench.cfg["op"] == "append":
        m.update(_chain_layers(bench))
    m["spark.jobs_total"] = sum(
        s["counters"]["jobs"] for s in bench.tracer.spans[bench.first_measured_span:])
    return {k: (v, UNITS[k]) for k, v in m.items()}
