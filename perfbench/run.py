"""geo_spark benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 15 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed (cached under perfbench/.cache), starts a local Spark session with
one executor thread per core, sets the workload up, materializes untimed
warm-up passes (noop-format writes) for WARMUP_S seconds, then timed
passes for ``--seconds``, and checks the output of the set-up's warm
pass against an oracle that does not use the engine's kernels.

The last stdout line is one JSON object:
    {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
With ``--trace 0`` the metrics are the end-to-end ones: rows_per_s
(from the median timed pass), setup_s, and retained_mb: the memory the
driver, the JVM and its Python workers hold at the end of set-up (which
ends with one full pass), after a full garbage collection of the JVM:
what the workload keeps, such as the session, the broadcast layer and
caches.  Their peak memory is mostly the heap the JVM's collector chose
to grow to, which swings by a fifth from run to run; the record keeps
the JVM's peak RSS at the end of set-up for reference.  With ``--trace 1`` they are the
per-layer ones, from Spark-free kernel timings, calls timed from
outside, and a second, event-logged session whose log is parsed into
the span tree.  The line
before it ("record: {...}") carries the full record: parameters, pass
times, failed_frac, the throttle probe and, when traced, the span tree
(run, set-up steps, passes, operator call, sink, Spark job, stage).
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))
# Untimed passes after each set-up: the first passes of a fresh JVM run
# up to half again as long as later ones (JIT compilation, heap growth).
WARMUP_S = 6.0
# Operators with a per-layer time (0 on a workload that does not run one).
OPERATORS = ("tile_counts", "spatial_join", "knn_join")

# Run hygiene, before numpy or Spark load: one BLAS thread per process,
# one Spark executor thread per core, every scratch file in the checkout.
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"
os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
os.environ["TMPDIR"] = TMP
os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
# the launcher JVM that spark-submit starts before the driver
os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
for _var in ("SPARK_MASTER", "SPARK_DRIVER_MEMORY", "SPARK_EXECUTOR_MEMORY"):
    os.environ.pop(_var, None)  # the engine's own defaults
sys.path[:0] = [ROOT, HERE]

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

import eventlog  # noqa: E402
import layers  # noqa: E402
import procs  # noqa: E402
from kernels import kernel_metrics  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def throttle_probe(n: int = 1536) -> float:
    """Seconds for one float64 n x n matmul on one BLAS thread: a health
    reading of the shared machine taken with every run."""
    rng = np.random.default_rng(0)
    w = rng.standard_normal((256, 256))
    w @ w
    a = rng.standard_normal((n, n))
    t0 = time.perf_counter()
    a @ a
    return time.perf_counter() - t0


class Bench:
    """One benchmark run: session lifetime, set-up, passes, counters."""

    def __init__(self, wl, tracer: spans.Tracer) -> None:
        self.wl = wl
        self.tr = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- session -----------------------------------------------------------
    def start(self, event_dir: str | None) -> float:
        from geo_spark.session import get_spark

        confs = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_dir else "false",
        }
        if event_dir:
            confs["spark.eventLog.dir"] = "file://" + event_dir
            confs["spark.eventLog.compress"] = "false"
        with self.tr.span("session") as sp:
            self.spark = get_spark(app="perfbench", confs=confs)
            self.spark.sparkContext.setLogLevel("ERROR")
        return sp.duration

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- set-up and passes ------------------------------------------------------
    def setup(self, event_dir: str | None = None) -> dict:
        """Session start, input load, layer/target preparation and the
        warm pass, whose collected outputs are checked."""
        wl = self.wl
        pdfs = None
        with self.tr.span("setup") as sp:
            start_s = self.start(event_dir)
            with self.tr.span("load"):
                wl.load(self.spark)
            with self.tr.span("prep") as prep:
                wl.prepare(self.spark)
            self.attempted += 1
            try:
                with self.tr.span("pass"):
                    pdfs = self._pass(lambda df: df.toPandas())[0]
            except Exception:
                traceback.print_exc()
        # the check is the benchmark's own work: outside the set-up time
        try:
            errs = ["warm pass raised"] if pdfs is None else wl.check(pdfs)
        except Exception:
            traceback.print_exc()
            errs = ["output check raised"]
        if errs:
            self.failed += 1
            self.errors += errs
        return {"start_s": start_s, "prep_s": prep.duration, "setup_s": sp.duration}

    def _pass(self, sink) -> tuple[dict, dict]:
        """Each operator call of the workload, then ``sink`` on its
        DataFrame: (operator name -> sink result, per-operator timings)."""
        results, timings = {}, {}
        for name, call in self.wl.ops.items():
            with self.tr.span("operator") as op:
                df = call()
            with self.tr.span("sink") as sk:
                results[name] = sink(df)
            timings[name] = {
                "spans": (op.id, sk.id),
                "plan_s": op.duration,
                "exec_s": sk.duration,
            }
        return results, timings

    def passes(self, seconds: float) -> list[dict]:
        """Materialize passes until ``seconds`` have elapsed (at least one)."""
        out = []
        tries = 0
        deadline = time.perf_counter() + seconds
        while not tries or time.perf_counter() < deadline:
            tries += 1
            self.attempted += 1
            try:
                with self.tr.span("pass") as ps:
                    _, ops = self._pass(
                        lambda df: df.write.format("noop").mode("overwrite").save()
                    )
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            out.append(
                {
                    "span": ps.id,
                    "pass_s": ps.duration,
                    "plan_s": sum(o["plan_s"] for o in ops.values()),
                    "exec_s": sum(o["exec_s"] for o in ops.values()),
                    "ops": ops,
                }
            )
        return out

    def retained(self) -> dict[str, int]:
        """Memory the process tree still holds once the JVM has run a
        full garbage collection (after which it hands the heap it no
        longer needs back to the OS, on a background thread: wait until
        its RSS stops falling)."""
        self.spark._jvm.java.lang.System.gc()
        time.sleep(0.5)
        now = procs.footprint(os.getpid())
        for _ in range(25):
            time.sleep(0.1)
            prev, now = now, procs.footprint(os.getpid())
            if prev["jvm"] - now["jvm"] < 2**20:
                break
        return now

    def checkpoint(self) -> float:
        """Seconds to localCheckpoint the outputs of the workload's
        operators and free them again (``plans.checkpoints``), the
        per-round step of the engine's iterative operators."""
        from geo_spark.plans.checkpoints import free_local_checkpoint

        with self.tr.span("checkpoint") as sp:
            for call in self.wl.ops.values():
                free_local_checkpoint(call().localCheckpoint(eager=True))
        return sp.duration


def _median(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes) if passes else 0.0


def run(args) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload](args.seed, small=args.small)
    wl.corrupt = args.corrupt_oracle
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(TMP)
    wl.generate()
    probe_s = throttle_probe()
    tr = spans.Tracer()
    bench = Bench(wl, tr)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpus": CPUS,
        "input_rows": wl.rows,
        "params": wl.params(),
        "probe_s": probe_s,
    }
    try:
        with tr.span("run"):
            su = bench.setup()
            if not args.trace:
                mem = bench.retained()
            bench.passes(WARMUP_S)
            base = bench.passes(args.seconds if not args.trace else args.seconds / 2)
            if args.trace:
                # The traced half starts from a session restart in the
                # same JVM and warms up again, so the two halves differ
                # by the event log's overhead (and run-to-run noise).
                bench.stop()
                event_dir = os.path.join(WORK, "events")
                os.makedirs(event_dir)
                bench.setup(event_dir)
                bench.passes(WARMUP_S)
                traced = bench.passes(args.seconds / 2)
                checkpoint_s = bench.checkpoint()
                bench.stop()
    finally:
        bench.stop()
        procs.stop_gateway()
    record.update(
        passes=len(base),
        pass_s=[round(p["pass_s"], 4) for p in base],
        attempted=bench.attempted,
        failed=bench.failed,
        failed_frac=bench.failed / bench.attempted,
        **wl.facts,
        errors=bench.errors,
    )
    pass_s = _median(base, "pass_s")
    end_to_end, per_layer = layers.units()
    if not args.trace:
        record.update(memory_mb={k: v / 2**20 for k, v in mem.items()})
        metrics = {
            "rows_per_s": wl.rows / pass_s if pass_s else 0.0,
            "setup_s": su["setup_s"],
            "retained_mb": (mem["driver"] + mem["jvm"] + mem["workers"]) / 2**20,
        }
        return record, {k: {"value": metrics[k], "unit": u} for k, u in end_to_end.items()}

    log = eventlog.EventLog(eventlog.find_log(event_dir))
    descs = {s.id for s in tr.subtree({p["span"] for p in traced})}
    spark = log.layer_metrics(descs, len(traced))
    # the refine counters of the workload's join alone, not of the
    # Python nodes (extract) of its other operators
    refine = {
        s.id for s in tr.subtree({i for p in traced for i in p["ops"][wl.refine_op]["spans"]})
    }
    refine_m = log.layer_metrics(refine, len(traced))
    for key in ("spark.refine_rows_in", "spark.refine_keep_ratio"):
        spark[key] = refine_m[key]
    span_list = tr.as_dicts() + log.spans()
    layer = {
        "session.start_s": su["start_s"],
        **kernel_metrics(**wl.kernel_inputs()),
        "operators.build_layer_s": su["prep_s"],
        "operators.plan_s": _median(base, "plan_s"),
        "operators.exec_s": _median(base, "exec_s"),
        **{
            f"operators.{name}_s": statistics.median(
                p["ops"][name]["plan_s"] + p["ops"][name]["exec_s"] for p in base
            )
            if name in wl.ops
            else 0.0
            for name in OPERATORS
        },
        "plans.checkpoint_s": checkpoint_s,
        **spark,
        **spans.self_times(span_list, {p["span"] for p in traced}),
        "trace.overhead_frac": _median(traced, "pass_s") / pass_s - 1.0 if pass_s else 0.0,
    }
    record.update(traced_pass_s=[round(p["pass_s"], 4) for p in traced], spans=span_list)
    shutil.rmtree(event_dir, ignore_errors=True)
    return record, {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="self-test input sizes")
    ap.add_argument(
        "--corrupt-oracle",
        action="store_true",
        help="self-test: perturb one side of the output check",
    )
    args = ap.parse_args(argv)
    try:
        import geo_spark  # noqa: F401  (the engine must be importable)
    except ImportError as e:
        print(f"perfbench: cannot import geo_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    record, metrics = run(args)
    print("record: " + json.dumps(record, default=float))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
