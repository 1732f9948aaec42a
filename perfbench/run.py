"""Benchmark of the entity-resolution program through its public functions.

    python3 perfbench/run.py --workload er_dense --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark generates its labeled inputs
from ``--seed`` (``gen.py``), writes them as parquet, and hands the program
only those tables. It measures for ``--seconds`` (at least one unit of
work), checks every unit's output against the labels, and prints one JSON
object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics of one traced pass with ``--trace 1``.
A JSON ``report`` line before it records inputs, environment and per-unit
results (exact pair / cluster counts and an assignment digest).

Workloads and metrics, and why they were chosen: ``README.md`` here.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import cpu_counters  # noqa: E402

PACKAGE = "entityresolution_capstone_spark"
MASTER = "local[4]"
PARTITIONS = 4
DRIVER_MEMORY = "2g"
# JIT and GC threads for a 4-core machine. By default HotSpot runs two C2
# compiler threads, four parallel GC threads and a concurrent one next to the
# four task threads and the driver thread; a unit of either workload is
# mostly compilation (whole-stage code the program has HotSpot compile even
# when huge), so together they oversubscribe the cores and a unit's wall
# follows whatever else the machine runs. With one C2 thread and two GC
# threads a cold unit is about 10 % slower on an idle machine, but next to
# two busy processes it slowed by 14-23 % instead of 48-56 % (README.md).
JVM_THREADS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


THRESHOLD = 0.4  # similarity threshold; both shapes score true pairs above it
F1_FLOOR = 0.99  # a unit with a lower pairwise F1 is incorrect
# Delta conversations: every tenth conversation of one generated population
# (position % 10 == 7), the rule of the program's own er_attach driver query.
# How many of them belong to an entity already in the base then follows from
# the entity sizes, as it does there.
HOLDOUT_EVERY, HOLDOUT_AT = 10, 7


@dataclass(frozen=True)
class Workload:
    shape: gen.Shape
    blocking: dict
    batch: int  # conversations per delta batch
    batches: int  # delta batches taken from the held-out conversations


WORKLOADS = {
    # candidate-pair heavy: Zipf entity sizes, hot tokens kept as keys and
    # pushed through the salted self-join. Three MinHash rows per band keep
    # cross-entity collisions, whose count swings with the seed, a small
    # share of the pairs (pair count within ~5 % across seeds)
    "er_dense": Workload(
        shape=gen.Shape(
            "er_dense", n_convs=1100, shared_vocab=60, shared_len=(2, 3), zipf_a=2.0,
            min_convs=1, max_convs=40, typo_rate=0.02, hot_tokens=12, hot_fraction=0.14,
        ),
        blocking=dict(
            max_token_df=200, max_block_size=200, salt_block_size=60, minhash_rows=3
        ),
        batch=5,  # one delta batch, in the traced pass only
        batches=1,
    ),
    # incremental attach: base catalog of sparse shape (large vocabulary,
    # 2-5 conversations per entity, MinHash-only blocking) and a closed loop
    # of small delta batches. Banding is the program's default r=2, b=8: at
    # r=4, b=4 about one batch in four lost a conversation whose base
    # siblings all missed the bands, and F1 over a batch's ~120 true pairs
    # fell below the floor
    "er_attach": Workload(
        shape=gen.Shape(
            "er_attach", n_convs=2500, shared_vocab=5000, typo_rate=0.01, drop_rate=0.02
        ),
        blocking=dict(use_token_keys=False, minhash_rows=2, minhash_bands=8),
        batch=50,
        batches=5,  # base 2,250 conversations = 45x a batch
    ),
}


# -- inputs -------------------------------------------------------------------


def make_inputs(wl: Workload, seed: int, in_dir: str) -> dict:
    """Write the main table and the delta batches; return their statistics.

    One population of conversations in shuffled entity order; the held-out
    ones, in order, make the delta batches and the rest the main table."""
    corpus = gen.Corpus(wl.shape, seed)
    ents = corpus.base_entities()
    corpus.rng.shuffle(ents)
    turns, labels = corpus.conversations(ents, "c")
    held = [c for n, (c, _) in enumerate(labels) if n % HOLDOUT_EVERY == HOLDOUT_AT]
    part = {c: "main" for c, _ in labels}
    part.update({c: f"batch{n // wl.batch}" for n, c in enumerate(held)})
    stats = {}
    for name in ["main"] + [f"batch{k}" for k in range(wl.batches)]:
        stats[name] = gen.write_tables(
            [t for t in turns if part[t[0]] == name],
            [lb for lb in labels if part[lb[0]] == name],
            f"{in_dir}/{name}",
        )
    return stats


# -- correctness --------------------------------------------------------------


def _pairs(counts: pd.Series) -> float:
    return float((counts * (counts - 1) // 2).sum())


def pair_counts(truth: pd.Series, pred: pd.Series) -> tuple[float, float, float]:
    """(true positives, predicted pairs, true pairs) over one aligned frame."""
    df = pd.DataFrame({"t": truth.values, "p": pred.values})
    return (
        _pairs(df.groupby(["t", "p"]).size()),
        _pairs(df.groupby("p").size()),
        _pairs(df.groupby("t").size()),
    )


def f1_of(tp: float, pred: float, true: float) -> float:
    p = tp / pred if pred else 0.0
    r = tp / true if true else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def digest(assign: pd.DataFrame) -> str:
    """Hash of the (conv_id, cluster_id) assignment."""
    lines = sorted(assign["conv_id"] + "\t" + assign["cluster_id"])
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# -- the benchmark ------------------------------------------------------------


class Bench:
    def __init__(self, name: str, args, work: str, inputs: dict):
        self.name, self.wl, self.args, self.work = name, WORKLOADS[name], args, work
        self.inputs = inputs
        self.spark = None
        self.env: dict = {}
        self.session_s = 0.0

    # set-up: session ready, inputs registered, er_attach's catalog committed

    def conf(self, trace: bool) -> dict:
        w = self.work
        conf = {
            "spark.local.dir": f"{w}/spark-local",
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w}/tmp -XX:-UsePerfData {JVM_THREADS}",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            os.makedirs(f"{w}/eventlog", exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"{w}/eventlog",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self, master: str, trace: bool):
        from entityresolution_capstone_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=master,
            shuffle_partitions=PARTITIONS,
            checkpoint_dir=f"{self.work}/checkpoints",
            extra_conf=self.conf(trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.env = {
            "master": self.spark.conf.get("spark.master"),
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.memory": DRIVER_MEMORY,
            "jvm_args": list(
                self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments()
            ),
            "PYTHONPATH": os.environ["PYTHONPATH"],
            "python": sys.executable,
        }

    def register_inputs(self) -> None:
        from pyspark.sql import functions as F

        from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
        from entityresolution_capstone_spark.sources import tables

        read = self.spark.read.parquet
        self.transcripts = read(f"{self.work}/in/main/transcripts.parquet")
        self.labels = read(f"{self.work}/in/main/labels.parquet")
        self.transcripts.createOrReplaceTempView("transcripts")
        self.labels.createOrReplaceTempView("labels")
        # the benchmark's own bookkeeping, read without Spark
        self.n_turns = self.inputs["main"]["turns"]
        self.labels_pd = pd.read_parquet(f"{self.work}/in/main/labels.parquet")
        if self.name != "er_attach":
            return
        # the base catalog: canonical docs plus the curated (true) entity
        # assignment, each committed through the program's table writer
        cat = f"{self.work}/catalog"
        tables.write_table(canonical_docs(self.transcripts), f"{cat}/docs")
        root = self.labels.groupBy("entity_id").agg(F.min("conv_id").alias("cluster_id"))
        tables.write_table(
            self.labels.join(root, "entity_id").select("conv_id", "cluster_id"),
            f"{cat}/clusters",
        )
        self.base_docs = tables.read_table(self.spark, f"{cat}/docs")
        self.base_clusters = tables.read_table(self.spark, f"{cat}/clusters")
        self.base_pd = self.labels_pd.merge(pd.read_parquet(f"{cat}/clusters"), on="conv_id")

    def setup(self, trace: bool) -> float:
        """One cold set-up: program imports, JVM launch, session ready, inputs
        registered (and er_attach's catalog committed)."""
        t0 = time.perf_counter()
        self.start_session(MASTER, trace)
        self.register_inputs()
        return time.perf_counter() - t0

    # units of work

    def pipeline_config(self, base_dir: str):
        from entityresolution_capstone_spark.operators.blocking import BlockingConfig
        from entityresolution_capstone_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            base_dir=base_dir,
            similarity_threshold=THRESHOLD,
            blocking=BlockingConfig(**self.wl.blocking),
        )

    def resolve(self, base_dir: str) -> tuple[float, dict]:
        """Pipeline.run over the main table -> (wall s, checked record)."""
        from entityresolution_capstone_spark.plans.pipeline import Pipeline

        t0 = time.perf_counter()
        res = Pipeline(self.spark, self.pipeline_config(base_dir)).run(self.transcripts)
        wall = time.perf_counter() - t0
        assign = pd.read_parquet(res["clusters_path"])
        rec = self.check_full(assign)
        rec.update(n_pairs=int(res["n_pairs"]), n_clusters=int(res["n_clusters"]))
        return wall, rec

    def check_full(self, assign: pd.DataFrame) -> dict:
        lab = self.labels_pd
        ok = len(assign) == len(lab) and set(assign["conv_id"]) == set(lab["conv_id"])
        m = lab.merge(assign, on="conv_id")
        f1 = f1_of(*pair_counts(m["entity_id"], m["cluster_id"]))
        return {"f1": f1, "ok": bool(ok and f1 >= F1_FLOOR), "digest": digest(assign)}

    def attach(self, k: int, base_docs, base_clusters, base_pd) -> tuple[float, dict]:
        """One delta batch: canonical_docs -> attach_to_clusters -> write_table."""
        from entityresolution_capstone_spark.operators import incremental
        from entityresolution_capstone_spark.operators.blocking import BlockingConfig
        from entityresolution_capstone_spark.operators.canonicalize import canonical_docs
        from entityresolution_capstone_spark.sources import tables

        path = f"{self.work}/in/batch{k}"
        batch = self.spark.read.parquet(f"{path}/transcripts.parquet")
        n_turns = self.inputs[f"batch{k}"]["turns"]
        out_path = f"{self.work}/out/{uuid.uuid4().hex[:8]}/assignments"
        t0 = time.perf_counter()
        out = incremental.attach_to_clusters(
            canonical_docs(batch),
            base_docs,
            base_clusters,
            BlockingConfig(**self.wl.blocking),
            threshold=THRESHOLD,
        )
        tables.write_table(out, out_path, extra_manifest={"stage": "assignments"})
        wall = time.perf_counter() - t0
        got = pd.read_parquet(out_path)
        rec = self.check_attach(got, pd.read_parquet(f"{path}/labels.parquet"), base_pd)
        rec.update(turns=n_turns, cross_pairs=int(got["n_cand"].sum()),
                   attached=float((got["cluster_id"] != got["conv_id"]).mean()))
        return wall, rec

    def check_attach(self, got: pd.DataFrame, lab: pd.DataFrame, base_pd: pd.DataFrame) -> dict:
        """F1 over the pairs that involve at least one new conversation."""
        ok = len(got) == len(lab) and set(got["conv_id"]) == set(lab["conv_id"])
        ok = ok and bool(
            (got["cluster_id"].isin(base_pd["cluster_id"]) | (got["cluster_id"] == got["conv_id"])).all()
        )
        new = lab.merge(got[["conv_id", "cluster_id"]], on="conv_id")
        both = pd.concat([base_pd[["conv_id", "entity_id", "cluster_id"]], new])
        tp, pred, true = np.subtract(
            pair_counts(both["entity_id"], both["cluster_id"]),
            pair_counts(base_pd["entity_id"], base_pd["cluster_id"]),
        )
        f1 = f1_of(tp, pred, true)
        return {"f1": f1, "ok": bool(ok and f1 >= F1_FLOOR), "digest": digest(got)}

    def loop(self, unit, seconds: float, units) -> tuple[int, int, list[dict]]:
        """Closed loop, one client: next unit after the previous one committed;
        at least one unit, no new unit once ``seconds`` of work are measured."""
        attempted = failed = 0
        recs, spent = [], 0.0
        for u in units:
            if attempted and spent >= seconds:
                break
            attempted += 1
            cpu0 = cpu_counters(os.getpid())
            t0 = time.perf_counter()
            try:
                wall, rec = unit(u)
            except Exception:
                traceback.print_exc()
                wall, rec = time.perf_counter() - t0, {"ok": False, "error": True}
            cpu1 = cpu_counters(os.getpid())
            spent += wall
            rec["wall_s"] = wall
            # whole unit incl. its checks: the tree's CPU and the machine's steal
            rec["cpu_s"], rec["steal_s"] = (b - a for a, b in zip(cpu0, cpu1))
            recs.append(rec)
            failed += not rec["ok"]
        return attempted, failed, recs

    def run_untraced(self, seconds: float) -> dict:
        from spans import PeakRss

        if self.name == "er_attach":

            def unit(k):
                return self.attach(k, self.base_docs, self.base_clusters, self.base_pd)

            units = range(self.wl.batches)
        else:

            def unit(i):
                return self.resolve(f"{self.work}/out/run{i}")

            units = itertools.count()
        with PeakRss() as rss:
            attempted, failed, recs = self.loop(unit, seconds, units)
        # medians over correct units; 0.0 when no unit was correct
        good = [r for r in recs if r["ok"]]

        def med(xs):
            return statistics.median(xs) if good else 0.0

        wall = med([r["wall_s"] for r in good])
        return {
            "attempted": attempted,
            "failed": failed,
            "records": recs,
            "metrics": {
                "job_s": (wall, "s"),
                "batch_s": (wall, "s"),
                "turns_per_s": (med([r.get("turns", self.n_turns) / r["wall_s"] for r in good]), "1/s"),
                "f1": (med([r["f1"] for r in good]), "1"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
            },
            "samples": len(good),
        }

    def close(self) -> None:
        """Stop Spark, then the driver JVM, and wait for it to exit."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def pin_env(work: str) -> None:
    """Environment every Spark and Python worker process inherits."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["TMPDIR"] = f"{work}/tmp"
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(PARTITIONS)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not spec.origin.startswith(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work)
    inputs = make_inputs(WORKLOADS[args.workload], args.seed, f"{work}/in")
    bench = Bench(args.workload, args, work, inputs)
    try:
        setup_s = bench.setup(bool(args.trace))
        if args.trace:
            from traced import traced_pass

            res = traced_pass(bench, args.seconds, THRESHOLD)
        else:
            res = bench.run_untraced(args.seconds)
            res["metrics"]["setup_s"] = (setup_s, "s")
        env = bench.env
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": inputs,
        "env": env,
        "setup_s": setup_s,
        "samples": res.get("samples"),
        "error_rate": res["failed"] / res["attempted"],
        "records": res["records"],
    }
    print(json.dumps({"report": report}, default=str))
    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
