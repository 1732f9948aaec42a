"""One traced pass of a workload and the per-layer metrics derived from it.

The pass runs ``Pipeline.run`` over the main table (on ``er_attach`` that is
the base catalog's resolve), evaluates it, then attaches delta batches: one
against the freshly resolved catalog on ``er_dense``, a closed loop against
the set-up catalog on ``er_attach``. Each layer is named after the module
its spans enter; see README.md for which end-to-end metric each should move.
"""

from __future__ import annotations

import os
import statistics
import uuid

from spans import EventLog, Tracer

# span name -> layer
LAYER = {
    "pipeline.run": "pipeline",
    "write:docs": "canonicalize",
    "write:df_table": "dictionary",
    "write:token_dict": "dictionary",
    "write:blocks": "blocking",
    "write:block_metrics": "blocking",
    "write:pairs": "blocking",
    "write:scores": "scoring",
    "write:bootstrap_edges": "bootstrap",
    "write:cluster_edges": "cc",
    "write:clusters": "cc",
    "cc.connected_components": "cc",
    "attach": "attach",
    "write:assignments": "tables",
    "evaluate": "evaluate",
}
ATTACH_TRACED = 3  # at most three traced batches on er_attach
ENGINE_LAYERS = ("pipeline", "canonicalize", "dictionary", "blocking", "scoring",
                 "bootstrap", "cc", "attach")


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


def traced_pass(bench, seconds: float, threshold: float) -> dict:
    from pyspark.sql import functions as F

    from entityresolution_capstone_spark import evaluate
    from entityresolution_capstone_spark.sources import tables

    spark, sc, work = bench.spark, bench.spark.sparkContext, bench.work
    tr = Tracer(sc, uuid.uuid4().hex[:12])
    base_dir = f"{work}/out/traced"
    recs = []  # the Pipeline.run record, then one per delta batch
    tr.install()
    try:
        rdds_before = sc._jsc.getPersistentRDDs().size()
        job_s, rec = bench.resolve(base_dir)
        leaked = sc._jsc.getPersistentRDDs().size() - rdds_before
        scores = evaluate.pairwise_precision_recall(
            bench.labels, tables.read_table(spark, f"{base_dir}/clusters")
        )
        rec["ok"] = rec["ok"] and abs(scores.f1 - rec["f1"]) < 1e-9
        rec["wall_s"] = job_s
        recs.append(rec)
        if bench.name == "er_attach":
            catalog = (bench.base_docs, bench.base_clusters, bench.base_pd)
        else:
            assign = tables.read_table(spark, f"{base_dir}/clusters")
            catalog = (
                tables.read_table(spark, f"{base_dir}/docs"),
                assign,
                bench.labels_pd.merge(assign.toPandas(), on="conv_id"),
            )
        spent = 0.0
        for k in range(min(ATTACH_TRACED, bench.wl.batches)):
            if k and spent >= seconds:
                break
            n_spans = len(tr.spans)
            wall, r = bench.attach(k, *catalog)
            r["wall_s"] = wall
            r["attach_s"] = sum(
                tr.duration(s["id"]) for s in tr.spans[n_spans:] if s["name"] == "attach"
            )
            recs.append(r)
            spent += wall
    finally:
        tr.uninstall()

    batches = recs[1:]

    # counts read back from the committed stage tables, outside every span
    def table(stage):
        return spark.read.parquet(f"{base_dir}/{stage}")

    n_docs = table("docs").count()
    n_scored = table("scores").count()
    pairs = table("pairs").select("id1", "id2").toPandas()
    lab = bench.labels_pd.set_index("conv_id")["entity_id"]
    true_cand = int((pairs["id1"].map(lab) == pairs["id2"].map(lab)).sum())
    ent_sizes = bench.labels_pd.groupby("entity_id").size()
    true_pairs = float((ent_sizes * (ent_sizes - 1) // 2).sum())
    counts = {
        "dictionary.tokens": table("token_dict").count(),
        "blocking.dropped_blocks": table("block_metrics").filter("dropped").count(),
        "scoring.passed": table("scores").filter(F.col("sim") >= threshold).count(),
        "bootstrap.edges": table("bootstrap_edges").count(),
        "cc.edges_in": table("cluster_edges").count(),
    }
    app_id = sc.applicationId
    spark.stop()  # flushes the event log
    bench.spark = None
    elog = EventLog(f"{work}/eventlog", app_id)
    tr.dump(os.path.join(os.path.dirname(work), f"spans-{bench.name}-{bench.args.seed}.json"))

    by_layer: dict[str, list[int]] = {}
    for s in tr.spans:
        by_layer.setdefault(LAYER.get(s["name"], "other"), []).append(s["id"])

    def layer_s(layer):
        return sum(tr.self_time(i) for i in by_layer.get(layer, []))

    def groups(ids):
        return {f"pb{i}" for i in ids}

    root = by_layer["pipeline"][0]
    writes = [s["id"] for s in tr.spans if s["name"].startswith("write:")]
    cc_ids = [s["id"] for s in tr.spans if s["name"] == "cc.connected_components"]
    n_pairs = rec["n_pairs"]
    m = {
        "session.start_s": (bench.session_s, "s"),
        "tables.write_s": (
            sum(tr.duration(i) - elog.job_busy_s(groups([i])) for i in writes), "s"),
        "tables.commits": (len(writes), "count"),
        "tables.bytes_written_mb": (_du_mb(f"{work}/out"), "MB"),
        "pipeline.job_s": (job_s, "s"),
        "pipeline.runner_s": (tr.self_time(root), "s"),
        "pipeline.spark_jobs": (elog.job_count(groups(tr.subtree(root))), "count"),
        "pipeline.cached_rdds_leaked": (leaked, "count"),
        "canonicalize.s": (layer_s("canonicalize"), "s"),
        "canonicalize.turns_in": (bench.n_turns, "count"),
        "canonicalize.docs_out": (n_docs, "count"),
        "dictionary.s": (layer_s("dictionary"), "s"),
        "dictionary.tokens": (counts["dictionary.tokens"], "count"),
        "blocking.s": (layer_s("blocking"), "s"),
        "blocking.pairs": (n_pairs, "count"),
        "blocking.pairs_per_conv": (n_pairs / n_docs, "1"),
        "blocking.dropped_blocks": (counts["blocking.dropped_blocks"], "count"),
        "blocking.match_yield": (true_cand / n_pairs if n_pairs else 0.0, "1"),
        "blocking.pair_recall": (true_cand / true_pairs if true_pairs else 0.0, "1"),
        "scoring.s": (layer_s("scoring"), "s"),
        "scoring.pairs_per_s": (n_scored / layer_s("scoring"), "1/s"),
        "scoring.pass_ratio": (counts["scoring.passed"] / n_scored if n_scored else 0.0, "1"),
        "bootstrap.s": (layer_s("bootstrap"), "s"),
        "bootstrap.edges": (counts["bootstrap.edges"], "count"),
        "cc.s": (layer_s("cc"), "s"),
        "cc.edges_in": (counts["cc.edges_in"], "count"),
        "cc.spark_jobs": (elog.job_count(groups(cc_ids)), "count"),
        "cc.clusters": (rec["n_clusters"], "count"),
        "attach.s": (statistics.median(r["attach_s"] for r in batches), "s"),
        "attach.batch_s": (statistics.median(r["wall_s"] for r in batches), "s"),
        "attach.cross_pairs": (statistics.median(r["cross_pairs"] for r in batches), "count"),
        "attach.attached_ratio": (statistics.median(r["attached"] for r in batches), "1"),
        "evaluate.s": (layer_s("evaluate"), "s"),
    }
    for layer in ENGINE_LAYERS:
        ids = [root] if layer == "pipeline" else by_layer.get(layer, [])
        for k, v in elog.counters(groups(ids)).items():
            unit = {"shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "1",
                    "gc_s": "s", "failed_tasks": "count"}[k]
            m[f"{layer}.{k}"] = (v, unit)

    failed = sum(not r["ok"] for r in recs)
    m["error_rate"] = (failed / len(recs), "1")
    return {"attempted": len(recs), "failed": failed, "records": recs, "metrics": m,
            "samples": len(batches)}

