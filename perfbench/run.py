#!/usr/bin/env python3
"""Benchmark of record for lakehouse_workshop_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 16 --trace 0

One run generates the workload's inputs from the seed, starts the Spark
session, checks the workload's queries against the DuckDB oracle on a
small copy of the inputs, then runs as many timed passes as fit
``--seconds`` at the workload's nominal pass time, and checks that every
pass reproduces the first. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
KEEP_INPUT_SETS = 8  # generated input sets kept under WORK/data (least recently used go)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true", help="sf0.001 inputs for both the gate and the timed pass"
    )
    return p.parse_args(argv)


def _isolate(run_dir: Path) -> dict[str, str]:
    """Point every scratch write of the JVM, the Python workers and the
    library at ``run_dir``; returns the extra Spark conf for it. Must run
    before the JVM starts: workers inherit this environment."""
    for sub in ("tmp", "local", "warehouse", "eventlog", "duck"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    tmp = str(run_dir / "tmp")
    os.environ["TMPDIR"] = tmp  # tempfile: streaming checkpoints, RDD checkpoints
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Every JVM: the launcher spark-submit runs and the driver it starts.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _prune_inputs(data_root: Path, keep: set[str]) -> None:
    """Remove the least recently built input sets beyond KEEP_INPUT_SETS,
    never one named in ``keep``."""
    sets = sorted(data_root.glob("*"), key=lambda p: p.stat().st_mtime, reverse=True)
    for p in sets[KEEP_INPUT_SETS:]:
        if p.name not in keep:
            shutil.rmtree(p, ignore_errors=True)


def _dir_bytes_files(path: Path) -> tuple[int, int]:
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


class Runner:
    """Runs a workload's ops against one session and keeps the books."""

    def __init__(self, spark, workload, trace: bool, run_dir: Path):
        self.spark = spark
        self.wl = workload
        self.trace = trace
        self.run_dir = run_dir
        self.attempted = 0
        self.failures: list[str] = []
        self.calls: list[dict] = []  # one record per op call of a pass
        self.passes: list[dict] = []
        self.reference: dict[str, object] = {}  # op -> its digest in pass 0

    # -- bookkeeping ----------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def _group(self, tag: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(tag, tag)

    def reclaim(self) -> None:
        """Drop state a previous pass left behind, as bench.py's _reclaim
        does: the CLV score memo, cached tables and checkpointed RDDs."""
        from lakehouse_workshop_spark.clv import pipeline

        pipeline._SCORED_CACHE.clear()
        self.spark.catalog.clearCache()
        gc.collect()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)

    # -- one call -------------------------------------------------------------
    def _force(self, df) -> tuple[int, int]:
        """Force ``df`` through the noop sink; returns (rows, digest), with
        the digest an order-insensitive sum of per-row hashes computed by
        an observation in the same job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql.types import DoubleType, MapType

        def canon(f):
            c = F.col(f"`{f.name}`")
            if isinstance(f.dataType, MapType):
                return F.to_json(c)  # maps are not hashable
            if isinstance(f.dataType, DoubleType):
                # float32 precision: a double aggregate summed in task
                # arrival order may differ in its last bits between passes
                return c.cast("float")
            return c

        cols = [canon(f) for f in df.schema.fields]
        h = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)) if cols else F.lit(0)
        obs = Observation("digest")
        df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).write.format(
            "noop"
        ).mode("overwrite").save()
        got = obs.get
        return int(got["n"]), int(got["h"] or 0)

    def call(self, op, inputs, tag: str) -> tuple[float, float, float, object]:
        """Build then force one op; returns (build_s, force_s, cpu_s, digest),
        with cpu_s the process tree's CPU seconds over the call. The digest
        is None for an op that returns no DataFrame."""
        from proctree import cpu_seconds

        self._group(f"{tag}|build")
        cpu0, t0 = cpu_seconds(), time.perf_counter()
        df = op.call(self.spark, inputs)
        t1 = time.perf_counter()
        digest = None
        if df is not None:
            self._group(f"{tag}|force")
            digest = self._force(df)
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, cpu_seconds() - cpu0, digest

    # -- gate -----------------------------------------------------------------
    def gate(self, inputs: dict[str, str]) -> None:
        """Oracle pass at gate scale; also warms codegen for the timed passes."""
        import oracle_gate
        from lakehouse_workshop_spark.operators import all_oracles

        oracles = all_oracles()
        cons = {}
        try:
            for op in self.wl.ops:
                self.attempted += 1
                self._group(f"gate|{op.name}")
                try:
                    if op.layer == "operators":
                        if op.tables not in cons:
                            cons[op.tables] = oracle_gate.connect(
                                inputs[op.tables], str(self.run_dir / "duck")
                            )
                        con = cons[op.tables]
                        bad = oracle_gate.compare(
                            op.call(self.spark, inputs), oracles[op.name], con
                        )
                    else:
                        bad = self._clv_check(op, op.call(self.spark, inputs), inputs)
                except Exception:
                    bad = [traceback.format_exc(limit=3)]
                if bad:
                    self.fail(f"gate {op.name}: {bad[:3]}")
        finally:
            for con in cons.values():
                con.close()

    def _csv_rows(self, inputs) -> int:
        with open(inputs["csv"]) as f:
            return sum(1 for _ in f) - 1

    def _clv_check(self, op, df, inputs) -> list[str]:
        """Invariants of the CLV workshop outputs (no DuckDB oracle exists
        for the model fits): every customer is ingested, scored once and
        counted once in the dashboard, with finite non-negative CLV."""
        n = self._csv_rows(inputs)
        if op.name == "ingest_summary":
            rows = self._ingested_rows()
            return [] if rows == n else [f"ingested {rows} rows of {n}"]
        if op.name == "score_customers":
            pdf = df.toPandas()
            bad = []
            if len(pdf) != n or pdf["CustomerID"].nunique() != n:
                bad.append(f"scored {len(pdf)} rows / {pdf['CustomerID'].nunique()} ids of {n}")
            clv = pdf["PRED_CLV"]
            if not (clv.notna().all() and (clv >= 0).all() and clv.abs().lt(float("inf")).all()):
                bad.append("PRED_CLV not finite and non-negative")
            return bad
        pdf = df.toPandas()
        bad = []
        if int(pdf["n_customers"].sum()) != n:
            bad.append(f"dashboard counts {int(pdf['n_customers'].sum())} of {n}")
        if not set(pdf["clv_band"]) <= {"low", "mid", "high"}:
            bad.append(f"bands {sorted(set(pdf['clv_band']))}")
        return bad

    # -- timed passes ---------------------------------------------------------
    def run_pass(self, index: int, inputs) -> None:
        from proctree import cpu_seconds, steal_seconds

        self.reclaim()
        cpu0, steal0, t0 = cpu_seconds(), steal_seconds(), time.perf_counter()
        for op in self.wl.ops:
            self.attempted += 1
            try:
                build_s, force_s, cpu_s, digest = self.call(op, inputs, f"{index}|{op.name}")
            except Exception:
                self.fail(f"pass {index} {op.name}: {traceback.format_exc(limit=3)}")
                continue
            self.calls.append(
                {"pass": index, "op": op.name, "layer": op.layer,
                 "build_s": build_s, "force_s": force_s, "cpu_s": cpu_s}
            )
            if op.name == "ingest_summary":
                digest = self._ingested_rows()
                if digest != self._csv_rows(inputs):
                    self.fail(f"pass {index} ingest_summary wrote {digest} rows")
            ref = self.reference.setdefault(op.name, digest)
            if digest != ref:
                self.fail(f"pass {index} {op.name}: digest {digest} != pass 0 {ref}")
        wall, cpu, steal = time.perf_counter() - t0, cpu_seconds() - cpu0, steal_seconds() - steal0
        written = None
        if any(op.layer == "catalog" for op in self.wl.ops):
            written = _dir_bytes_files(self.run_dir / "warehouse")
        self.passes.append(
            {"pass": index, "pass_s": wall, "cpu_s": cpu, "steal_s": steal, "written": written}
        )

    def _ingested_rows(self) -> int:
        import pyarrow.parquet as pq

        root = self.run_dir / "warehouse" / "customer_info.db" / "summary_2011"
        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in root.rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        )

    # -- recall ---------------------------------------------------------------
    def check_recall(self, inputs) -> dict[str, float]:
        """recall@10 of ann_topk_lsh (timed in the pass) and of ivf_pq_topk's
        search against exact_topk_blas."""
        import workloads
        from lakehouse_workshop_spark.operators import all_queries
        from lakehouse_workshop_spark.operators.llm_ann_pq import exact_topk_blas, ivf_pq_search

        data = inputs["data"]
        searches = {
            "ann_topk_lsh": lambda: all_queries()["ann_topk_lsh"](self.spark, data),
            "ivf_pq_topk": lambda: ivf_pq_search(self.spark, data),
        }
        out = {}
        self.attempted += 1
        self._group("recall|exact")
        try:
            exact = {(r[0], r[1]) for r in exact_topk_blas(self.spark, data).select("query_id", "vec_id").collect()}
        except Exception:
            self.fail(f"recall exact_topk_blas: {traceback.format_exc(limit=3)}")
            return {name: 0.0 for name in searches}
        for name, fn in searches.items():
            self.attempted += 1
            self._group(f"recall|{name}")
            try:
                got = {(r[0], r[1]) for r in fn().select("query_id", "vec_id").collect()}
            except Exception:
                self.fail(f"recall {name}: {traceback.format_exc(limit=3)}")
                out[name] = 0.0
                continue
            out[name] = len(got & exact) / max(1, len(exact))
            if out[name] < workloads.RECALL_FLOORS[name]:
                self.fail(f"recall {name} {out[name]:.4f} < floor {workloads.RECALL_FLOORS[name]}")
        return out


def _direct_layers(seed: int) -> dict[str, float]:
    """Driver-side calls timed directly: one CLV group fit and BPE learn
    and encode on a seeded word sample (median of three calls each)."""
    import numpy as np
    import pandas as pd

    from lakehouse_workshop_spark.clv.pipeline import clv_score_group
    from lakehouse_workshop_spark.llm import bpe

    rng = np.random.default_rng([seed, 77])
    n = 300
    t1 = rng.integers(2, 52, n).astype("float32")
    group = pd.DataFrame(
        {
            "GroupKey": np.ones(n, dtype="int32"),
            "CustomerID": np.arange(n, dtype="int32"),
            "FREQUENCY": np.minimum(1 + rng.geometric(0.25, n), 50).astype("int64"),
            "RECENCY": np.minimum(rng.integers(1, 51, n), t1 - 1).clip(min=1).astype("float32"),
            "AGE": t1,
            "AVG_MONETARY_VALUE": np.exp(rng.normal(5.5, 1.2, n)).astype("float32"),
        }
    )
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = ["".join(letters[rng.integers(0, 26, int(rng.integers(2, 10)))]) for _ in range(400)]
    counts = [(w, int(c)) for w, c in zip(words, rng.zipf(1.5, len(words)).clip(max=1000))]

    def med(fn) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    merges = bpe.learn_merges(counts, 100)
    ranks = {pair: i for i, pair in enumerate(merges)}
    return {
        "models.fit_group_s": med(lambda: clv_score_group(group)),
        "llm.bpe_learn_s": med(lambda: bpe.learn_merges(counts, 100)),
        "llm.bpe_encode_s": med(lambda: [bpe.encode_word(w, ranks) for w in words * 5]),
    }


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    import proctree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while proctree.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in proctree.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _median_of(passes, key) -> float:
    return statistics.median(p[key] for p in passes)


def _layer_metrics(runner: Runner, groups: dict, setup: dict, direct, recall, e2e, names) -> dict:
    """Per-layer medians over the timed passes, one entry per name in
    ``names`` (the BENCHMARK.json per_layer list)."""
    import eventlog

    per_pass = []
    for x in runner.passes:
        p = x["pass"]
        calls = [c for c in runner.calls if c["pass"] == p]
        rec = dict.fromkeys(eventlog.FIELDS, 0)
        rec["operators.build_jobs"] = 0
        for gid, g in groups.items():
            parts = gid.split("|")
            if parts[0] != str(p):
                continue
            for k in eventlog.FIELDS:
                rec[k] += g[k]
            if parts[2] == "build" and any(
                c["op"] == parts[1] and c["layer"] == "operators" for c in calls
            ):
                rec["operators.build_jobs"] += g["exec.jobs"]

        def total(keep):
            return sum(c["build_s"] + c["force_s"] for c in calls if keep(c))

        rec["operators.build_s"] = sum(c["build_s"] for c in calls if c["layer"] == "operators")
        rec["exec.force_s"] = sum(c["force_s"] for c in calls)
        rec["catalog.ingest_s"] = total(lambda c: c["layer"] == "catalog")
        rec["clv.score_s"] = total(lambda c: c["op"] == "score_customers")
        rec["clv.dashboard_s"] = total(lambda c: c["op"] == "clv_dashboard")
        rec["catalog.bytes_written"], rec["catalog.files_written"] = x["written"] or (0, 0)
        rec["catalog.write_amplification"] = (
            rec["catalog.bytes_written"] / setup["csv_bytes"] if setup.get("csv_bytes") else 0.0
        )
        for c in calls:
            rec[f"query.{c['op']}.build_s"] = c["build_s"]
            rec[f"query.{c['op']}.force_s"] = c["force_s"]
        per_pass.append(rec)

    out = {}
    for name in names:
        if name in setup:
            out[name] = setup[name]
        elif name in e2e:
            out[name] = e2e[name]
        elif name in direct:
            out[name] = direct[name]
        elif name.startswith("ann.recall_at_10."):
            out[name] = recall.get(name.rsplit(".", 1)[1], 0.0)
        else:
            out[name] = statistics.median(r.get(name, 0) for r in per_pass)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "lakehouse_workshop_spark" / "__init__.py").is_file():
        print(f"error: no lakehouse_workshop_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = WORK / "runs" / f"{os.getpid()}-{time.time_ns()}"
    conf = _isolate(run_dir)
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        return _run(args, spec, wl, run_dir, conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        for stale in (WORK / "runs").glob("*"):
            pid = stale.name.split("-")[0]
            if pid.isdigit() and not Path(f"/proc/{pid}").exists():
                shutil.rmtree(stale, ignore_errors=True)


def _run(args, spec, wl, run_dir: Path, conf: dict) -> int:
    import proctree
    import workloads

    data_root = WORK / "data"
    t = time.perf_counter()
    gate_inputs = wl.make_inputs(str(data_root), args.seed, "smoke" if args.smoke else "gate")
    inputs = wl.make_inputs(str(data_root), args.seed, "smoke" if args.smoke else "timed")
    gen_s = time.perf_counter() - t
    _prune_inputs(data_root, {Path(p).relative_to(data_root).parts[0] for p in (*inputs.values(), *gate_inputs.values())})

    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    with proctree.PeakRss() as rss:
        t0 = time.perf_counter()
        from lakehouse_workshop_spark import get_spark

        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from lakehouse_workshop_spark.operators import all_queries

        all_queries()
        _warm(spark)
        t2 = time.perf_counter()
        setup = {
            "setup_s": t2 - T_PROCESS - gen_s,
            "session.start_s": t1 - t0,
            "session.warm_s": t2 - t1,
        }
        if "csv" in inputs:
            setup["csv_bytes"] = os.path.getsize(inputs["csv"])

        runner = Runner(spark, wl, bool(args.trace), run_dir)
        runner.gate(gate_inputs)
        t3 = time.perf_counter()
        # A fixed count, not a deadline: pass times keep falling while the
        # JIT warms up, so every commit is timed over the same stretch.
        for index in range(max(1, round(args.seconds / workloads.PASS_S))):
            runner.run_pass(index, inputs)
        t4 = time.perf_counter()
        recall, direct = {}, {}
        if args.trace:
            recall = runner.check_recall(inputs) if wl.recall else {}
            direct = _direct_layers(args.seed)
        t5 = time.perf_counter()
        _stop(spark)
    phases = {"gen": gen_s, "setup": setup["setup_s"], "gate": t3 - t2, "window": t4 - t3,
              "checks": t5 - t4, "stop": time.perf_counter() - t5}
    passes, calls = runner.passes, runner.calls

    def p50_and_tail(cost) -> tuple[float, float]:
        """Median call, and the costliest call of a pass, median over passes:
        a run makes 9-12 calls, so no percentile has ten samples beyond it."""
        tail = statistics.median(
            max((cost(c) for c in calls if c["pass"] == p["pass"]), default=0.0) for p in passes
        )
        return statistics.median([cost(c) for c in calls] or [0.0]), tail

    wall_p50, wall_tail = p50_and_tail(lambda c: c["build_s"] + c["force_s"])
    cpu_p50, cpu_tail = p50_and_tail(lambda c: c["cpu_s"])
    e2e = {
        "setup_s": setup["setup_s"],
        "pass_cpu_s": _median_of(passes, "cpu_s"),
        "query_cpu_p50_s": cpu_p50,
        "query_cpu_tail_s": cpu_tail,
        "pass_s": _median_of(passes, "pass_s"),
        "query_p50_s": wall_p50,
        "query_tail_s": wall_tail,
        "failed_ratio": len(runner.failures) / max(1, runner.attempted),
        "process.peak_rss_mb": rss.peak / 2**20,
    }
    print(f"workload {wl.name} seed {args.seed} trace {args.trace}: {len(passes)} timed passes, "
          f"{len(calls)} calls, gen_s {gen_s:.3f} s (not in setup_s)")
    print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print("passes (wall / CPU of the tree / host steal): " + ", ".join(
        f"{p['pass_s']:.3f} / {p['cpu_s']:.1f} / {p['steal_s']:.1f} s" for p in runner.passes
    ))
    print(f"query_*p50_s over {len(calls)} calls; query_*tail_s is the costliest call of a pass, "
          f"median over {len(passes)} passes")
    for op in wl.ops:
        mine = [c for c in calls if c["op"] == op.name]
        if mine:
            print(f"  op {op.name:<28} build {statistics.median(c['build_s'] for c in mine):8.3f} s"
                  f"  force {statistics.median(c['force_s'] for c in mine):8.3f} s"
                  f"  cpu per call {' '.join('%.2f' % c['cpu_s'] for c in mine)} s")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units["failed_ratio"] = "ratio"
    for name, value in e2e.items():
        print(f"  {name:<20} {value:12.4f} {units[name]}")
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    if args.trace:
        import eventlog

        groups = eventlog.parse(str(run_dir / "eventlog"))
        names = [m["name"] for m in spec["per_layer"]]
        metrics = _layer_metrics(runner, groups, setup, direct, recall, e2e, names)
        for name in names:
            print(f"  {name:<44} {metrics[name]:16.4f} {units[name]}")
        untraced = [
            json.loads(line)["pass_s"]
            for line in (results / f"{wl.name}.jsonl").read_text().splitlines()
        ] if (results / f"{wl.name}.jsonl").exists() else []
        if untraced:
            ratio = metrics["pass_s"] / statistics.median(untraced)
            print(f"tracing overhead: traced pass_s / untraced pass_s = {ratio:.3f} "
                  f"(untraced median of {len(untraced)} runs)")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        if not args.smoke:  # the baseline of the tracing overhead
            with open(results / f"{wl.name}.jsonl", "a") as f:
                f.write(json.dumps({"seed": args.seed, **e2e}) + "\n")
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _warm(spark) -> None:
    """One Python-worker and BLAS warm pass, as bench.py does: forks the
    worker pool and pays OpenBLAS's first-call kernel setup outside the
    timed passes."""

    def blas(batches):
        import numpy as np

        w = np.ones((64, 64))
        for pdf in batches:
            (w @ w).sum()
            yield pdf

    cpus = spark.sparkContext.defaultParallelism
    spark.range(0, 256, 1, cpus).withColumnRenamed("id", "n").mapInPandas(
        blas, schema="n long"
    ).write.format("noop").mode("overwrite").save()


if __name__ == "__main__":
    sys.exit(main())
