"""Benchmark of the C4.5 engine: seeded train/score workloads, end-to-end
metrics, and a traced run that splits each call into per-module layers.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload train_narrow --seed 1 \\
        --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload
    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json

Each run generates (or reuses) the seeded inputs under ``.perfbench/`` in
the checkout, starts the JVM and the engine's Spark session on
``local[nproc]`` (timed as ``setup_s``), and runs the workload as a closed
loop with one client until the timed calls add up to ``--seconds`` (at
least one call). Every call takes longer than ``run_seconds``, so a run
times one call, the first in a fresh JVM, as the user of a batch training
job sees it: the JIT's and the code generator's first-call work is part of
it. Every output is checked; the last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``, after
one ``# name value unit`` line per metric. The exit code is 1 when a call
failed or an output was wrong.

``--trace 0`` reports the end-to-end metrics (see ``END_TO_END``).
``--trace 1`` instead alternates traced and untraced calls, each in a
fresh session of the same JVM; traced sessions write Spark's event log and
install the spans of ``spans.py``, and the layer metrics of ``layers.py``
are the medians over the traced calls. These follow an untimed warm-up
call, so traced and untraced calls are equally warm; their split is that
of a warm call, while ``--trace 0`` times the first. The LLM-pipeline
operators of the engine are not measured here; ``bench.py`` still times
them.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CPUS = len(os.sched_getaffinity(0))
#: no perf-data file in /tmp, temporary files inside the checkout
JVM_OPTS = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
#: ``run_seconds`` of BENCHMARK.json. Each run pays about 10 s of JVM and
#: session start and every call takes longer than this, so a run times a
#: single call, which keeps many seeded runs affordable
RUN_SECONDS = 1

#: (name, unit, better, bound)
END_TO_END = [
    ("wall_s_p50", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]


def _import_engine():
    """Import the engine and the benchmark modules that need it. Fails
    (ImportError) when the checkout holds no engine."""
    for d in ("tmp", "spark-local", "eventlog"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # pyspark's launcher and the JVMs put temporary files here, not in
    # /tmp; the driver JVM gets the same options from start_session
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    sys.path[:0] = [str(ROOT), str(HERE)]
    import c4_5decisiontreebasedonmapreduce_spark  # noqa: F401
    import workloads  # noqa: F401


def start_session(event_dir: Path | None = None):
    """Start (or restart in the running JVM) the engine's session and run
    one small job, so the session is ready for work."""
    from c4_5decisiontreebasedonmapreduce_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.driver.extraJavaOptions": JVM_OPTS,
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir.as_uri()
    spark = get_spark(
        app_name="perfbench", master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("OFF")
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """VmHWM of this process plus its descendants (the JVM), in MB."""
    parents: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parents[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        tree.update(kids)
        frontier += kids
    kb = 0
    for pid in tree:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int):
        import gen
        from workloads import WORKLOADS

        self.wl = WORKLOADS[workload]
        data = WORK / "data"
        manifest = gen.generate(seed, data, self.wl.table)
        self.inp = self.wl.inputs(gen.seed_dir(seed, data), manifest)
        self.input_bytes = manifest["data_bytes"]
        self.model_path = _score_model(data) if workload == "score" else None
        self.attempted = 0
        self.window_ms = (0.0, 0.0)  # epoch ms of the last call
        self.errors: list[tuple[int, str]] = []  # (call number, message)
        self.first_output = None

    def setup(self, event_dir: Path | None = None):
        """Session start plus, for ``score``, loading the model. Returns
        ``(spark, seconds)``."""
        from c4_5decisiontreebasedonmapreduce_spark.operators.tree import (
            DecisionListModel,
        )

        t0 = time.perf_counter()
        spark = start_session(event_dir)
        if self.model_path is not None:
            self.inp.model = DecisionListModel.load(str(self.model_path))
        return spark, time.perf_counter() - t0

    def call(self, spark) -> float:
        """One checked call; returns its wall time in seconds."""
        self.attempted += 1
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = self.wl.call(spark, self.inp)
        except Exception as e:  # a failed call is counted, not fatal
            out = None
            self.errors.append((self.attempted, repr(e)[:500]))
        wall = time.perf_counter() - t0
        self.window_ms = (start * 1000, (start + wall) * 1000)
        if out is None:
            return wall
        if self.first_output is None:
            errs = self.wl.check(out, self.inp)
            self.first_output = self.wl.fingerprint(out)
        elif self.wl.fingerprint(out) != self.first_output:
            errs = ["output differs from the run's first call"]
        else:
            errs = []
        self.errors += [(self.attempted, e) for e in errs[:5]]
        return wall

    @property
    def failed(self) -> int:
        return len({n for n, _ in self.errors})


def _score_model(data: Path) -> Path:
    """The scoring model's JSON file. The first run in a checkout trains
    and saves it in a JVM of its own, before its timed set-up, so every
    run's set-up and call start equally cold."""
    import gen
    from workloads import SCORE_MODEL_SEED, train_score_model

    manifest = gen.generate(SCORE_MODEL_SEED, data, "score_train")
    data_dir = gen.seed_dir(SCORE_MODEL_SEED, data)
    path = data_dir / "score_model.json"
    if not path.exists():
        spark = start_session()
        try:
            train_score_model(spark, data_dir, manifest, path)
        finally:
            stop_jvm(spark)
    return path


def run_end_to_end(run: Run, seconds: float) -> dict[str, float]:
    """The cold set-up (JVM launch included), then timed calls until
    they add up to ``seconds``."""
    spark, setup = run.setup()
    walls: list[float] = []
    while not walls or sum(walls) < seconds:
        walls.append(run.call(spark))
    stop_jvm(spark)
    print(f"# samples: setup_s {setup:.3f}, "
          f"wall_s {[round(w, 3) for w in walls]}")
    return {
        "wall_s_p50": statistics.median(walls),
        "rows_per_s": run.inp.rows * len(walls) / sum(walls),
        "setup_s": setup,
    }


def run_traced(run: Run, seconds: float) -> dict[str, float]:
    """After one untimed warm-up call, traced and untraced calls in turn,
    each in a fresh session of the same JVM, from a traced call to a
    traced call: at least traced-untraced-traced, and on until the traced
    calls add up to ``seconds``. Bracketing the untraced calls cancels the
    JIT's continuing warm-up out of ``trace.overhead_ratio``."""
    import eventlog as EL
    import layers
    import spans

    log_root = WORK / "eventlog" / f"{os.getpid()}-{time.time_ns()}"
    spark, cold = run.setup()
    run.call(spark)  # warm-up
    tracer = spans.Tracer()
    untraced, traced, per_call = [], [], []

    def untraced_call() -> None:
        nonlocal spark
        spark.stop()
        spark, _ = run.setup()
        untraced.append(run.call(spark))

    def traced_call(i: int) -> None:
        nonlocal spark
        spark.stop()
        event_dir = log_root / str(i)
        spark, _ = run.setup(event_dir)
        sc = spark.sparkContext
        group = f"call-{i}"
        # no job description: Spark would name every SQL execution after it
        # instead of after the action, which the layer attribution reads
        sc.setJobGroup(group, None)
        tracer.reset()
        undo = spans.install(tracer)
        try:
            traced.append(run.call(spark))
        finally:
            undo()
        sc.setJobGroup(f"scan-{i}", None)
        s0 = time.perf_counter()
        _read_input(spark, run).write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - s0
        spark.stop()  # completes the event log
        log = EL.parse(EL.read_lines(next(event_dir.iterdir())))
        jobs = EL.assign_jobs(log, group, run.window_ms)
        m = layers.call_metrics(log, jobs, tracer, run.window_ms)
        scan = EL.stage_totals(
            log, [j for j in log.jobs.values() if j.group == f"scan-{i}"]
        )
        m["sources.scan_s"] = scan_s
        m["sources.input_bytes"] = float(run.input_bytes)
        m["sources.rows"] = float(scan.input_records)
        run.errors += [(run.attempted, e) for e in run.wl.layer_errors(m)]
        per_call.append(m)

    i = 0
    while i < 3 or i % 2 == 0 or sum(traced) < seconds:
        if i % 2:
            untraced_call()
        else:
            traced_call(i)
        i += 1
    rss = peak_rss_mb()
    stop_jvm(spark)
    out = layers.median_metrics(per_call)
    out["session.start_s"] = cold
    out["process.peak_rss_mb"] = rss
    out["trace.overhead_ratio"] = (
        statistics.median(traced) / statistics.median(untraced)
    )
    return out


def _read_input(spark, run: Run):
    from c4_5decisiontreebasedonmapreduce_spark.sources import tsv

    if run.inp.path.endswith(".tsv"):
        return tsv.read_training_tsv(spark, run.inp.path, run.inp.schema)
    return spark.read.parquet(run.inp.path)


def manifest() -> dict:
    """The contents of BENCHMARK.json."""
    from layers import PER_LAYER
    from workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [
            {"name": w.name, "why": w.why} for w in WORKLOADS.values()
        ],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b}
            for n, u, b, _, _ in PER_LAYER
        ],
    }


_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def manifest_errors(m: dict) -> list[str]:
    """Where a BENCHMARK.json's contents break the format's limits."""
    errs = []
    rows = m["workloads"] + m["end_to_end"] + m["per_layer"]
    names = [r["name"] for r in rows]
    errs += [f"name {n!r} is invalid" for n in names if not _NAME.fullmatch(n)]
    errs += [f"name {n!r} is used twice" for n in set(names)
             if names.count(n) > 1]
    for w in m["workloads"]:
        if not 1 <= len(w["why"]) <= 200 or not w["why"].isprintable():
            errs.append(f"workload {w['name']!r}: why is not 1 to 200"
                        " printable characters")
    for r in m["end_to_end"] + m["per_layer"]:
        if not _UNIT.fullmatch(r["unit"]) or r["better"] not in (
                "lower", "higher"):
            errs.append(f"metric {r['name']!r}: bad unit or better")
    errs += [f"metric {r['name']!r}: bound above 0.25"
             for r in m["end_to_end"] if not 0 < r["bound"] <= 0.25]
    counts = (("workloads", 2, 8), ("end_to_end", 1, 16),
              ("per_layer", 1, 128))
    errs += [f"{k}: {len(m[k])} entries, not {lo} to {hi}"
             for k, lo, hi in counts if not lo <= len(m[k]) <= hi]
    if not 1 <= m["run_seconds"] <= 60:
        errs.append("run_seconds is not 1 to 60")
    if len(json.dumps(m, indent=2)) > 64 * 1024:
        errs.append("larger than 64 KiB")
    return errs


def run_all(names: list[str], args) -> int:
    """Run each workload in its own process (each needs a fresh JVM),
    print its metric lines prefixed with its name, and end with one JSON
    object mapping each workload to its result."""
    results = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.splitlines()
        for line in lines[:-1]:
            print(f"{name} {line}")
        ok = proc.returncode == 0 and lines and lines[-1].startswith("{")
        results[name] = json.loads(lines[-1]) if ok else {"correct": False}
    print(json.dumps(results))
    return 0 if all(r["correct"] for r in results.values()) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true",
                    help="write BENCHMARK.json at the checkout root")
    args = ap.parse_args(argv)
    try:
        _import_engine()
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2
    if args.write_manifest:
        m = manifest()
        errs = manifest_errors(m)
        for e in errs:
            print(f"perfbench: BENCHMARK.json: {e}", file=sys.stderr)
        if errs:
            return 1
        text = json.dumps(m, indent=2) + "\n"
        (ROOT / "BENCHMARK.json").write_text(text)
        return 0
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(list(WORKLOADS), args)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be 'all' or one of {sorted(WORKLOADS)}")
    run = Run(args.workload, args.seed)
    effects = {}
    if args.trace:
        from layers import PER_LAYER

        metrics = run_traced(run, args.seconds)
        units = {n: u for n, u, *_ in PER_LAYER}
        effects = {n: f"{layer} -> {moves}" for n, _, _, layer, moves in PER_LAYER}
    else:
        metrics = run_end_to_end(run, args.seconds)
        units = {n: u for n, u, *_ in END_TO_END}
    for n, e in run.errors:
        print(f"# FAILED call {n}: {e}", file=sys.stderr)
    print(f"# failed_ratio {run.failed / run.attempted:.4f} "
          f"({run.failed} of {run.attempted} calls)")
    for name in units:
        print(f"# {name} {metrics[name]:.6g} {units[name]}"
              + (f"  [{effects[name]}]" if name in effects else ""))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            n: {"value": metrics[n], "unit": units[n]} for n in units
        },
    }))
    return 1 if run.errors else 0


if __name__ == "__main__":
    sys.exit(main())
