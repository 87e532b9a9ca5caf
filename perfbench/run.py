"""sparkdedup benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload minhash_dense_job --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The library is imported from the
checkout (and shipped to the Spark workers through PYTHONPATH), never
from an installed copy. Spark runs at ``local[<cores>]`` in this process;
everything it writes stays under ``.perfbench_work/`` in the checkout.

``--trace 0`` measures the end-to-end metrics: set-up time, then, after
warm-up calls, the workload's library call repeated for about
``--seconds``, with every output checked. ``--trace 1`` runs the traced
layer-by-layer decomposition instead (plus the workload's companion
layers, see ``workloads.py``) and reports the per-layer table.
The last line of standard output is the JSON result; the full result,
spans included, is kept under ``.perfbench_work/results/``.

``--workload all`` runs every workload, each in its own process.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import corpus as corpus_mod  # noqa: E402
from probes import MB, RssSampler, Tracer, cpu_times, descendants, layer_table, steal_share  # noqa: E402
from suite import QUERIES  # noqa: E402
from workloads import WORKLOADS, check_output, survivor_digest  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# end-to-end metric -> unit
E2E_UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "driver_peak_rss_mb": "MB",
    "worker_peak_rss_mb": "MB",
    "jvm_peak_exec_mem_mb": "MB",
    "setup_s": "s",
}
LAYER_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "task_run_s": "s", "task_cpu_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "peak_exec_mem_mb": "MB", "rows_out": "count",
}
_TIMES = ("wall_s", "self_s", "jobs", "task_run_s", "task_cpu_s")
_SHUFFLE = ("shuffle_write_mb", "shuffle_read_mb")
# the counters listed per layer: those its workload makes nonzero at the
# benchmark's corpus sizes (nothing spills there; spill_mb and the other
# counters stay in the printed table and the result file)
LAYERS = {
    "io.scan": _TIMES + _SHUFFLE + ("rows_out",),
    "minhash.signatures": _TIMES + ("rows_out",),
    "minhash.edges": _TIMES + _SHUFFLE + ("peak_exec_mem_mb", "rows_out"),
    "cc": _TIMES + ("rows_out",),
    "tail": _TIMES + ("peak_exec_mem_mb", "rows_out"),
    "io.save": _TIMES + _SHUFFLE + ("rows_out",),
    "encode": _TIMES + ("rows_out",),
    "ann": _TIMES + _SHUFFLE + ("peak_exec_mem_mb", "rows_out"),
    "ann.index": _TIMES + ("rows_out",),
    "ann.search": _TIMES + ("rows_out",),
}
LAYERS.update({f"suite.{q}": ("wall_s", "jobs") for q in QUERIES})
# derived per-layer figures; ann.contractions is printed but not listed,
# because contraction fires on few seeds of the 1,500-doc ANN sample
EXTRA_UNITS = {
    "minhash.band_rows": "count",
    "minhash.kernel_us_per_doc": "us",
    "minhash.udf_overhead_us_per_doc": "us",
    "minhash.edges_per_doc": "edges/doc",
    "minhash.edge_yield": "ratio",
    "cc.edges": "count",
    "cc.driver_s": "s",
    "encode.kernel_us_per_doc": "us",
    "ann.rounds": "count",
    "ann.k_final": "count",
    "ann.match_edges": "count",
    "pipeline.ids.wall_s": "s",
    "pipeline.edges.wall_s": "s",
    "pipeline.cc.wall_s": "s",
    "pipeline.write.wall_s": "s",
    "pipeline.write_amp": "ratio",
    "pipeline.resume_s": "s",
    "trace.total_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead": "ratio",
}


def per_layer_units() -> dict:
    units = {f"{layer}.{c}": LAYER_UNITS[c] for layer, counters in LAYERS.items() for c in counters}
    units.update(EXTRA_UNITS)
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_environment(run_dir: str) -> None:
    """Point imports, workers and every scratch path at the checkout.
    Must run before pyspark starts the JVM."""
    if not os.path.isfile(os.path.join(ROOT, "sparkdedup", "session.py")):
        fail(f"no sparkdedup package under {ROOT}: run from the root of a source checkout")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for name, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        os.environ[name] = os.path.join(run_dir, sub)


def start_session(master: str, run_dir: str):
    """get_spark, then one trivial pandas-UDF job on every core (forks the
    Python workers)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from sparkdedup.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    # The heap starts at its configured maximum (the JVM caps the initial
    # size at -Xmx). From the JVM's small default start, G1 grows the heap
    # call by call and each call is faster than the last for 10+ calls,
    # which put a run's median wherever that curve happened to be.
    # The young generation is fixed at 1 GB: left to G1, it kept growing
    # into untouched heap for the first ten or so calls (JVM RSS 3.2 ->
    # 4.5 GB) while each call got faster, so the timed calls sat on a
    # slope whose steepness differed from run to run. Fixed, JVM RSS
    # levels off near 3 GB within the warm-up calls.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:InitialRAMPercentage=100 -Xmn1g"
    spark = get_spark(
        app_name="sparkdedup-perfbench",
        master=master,
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        extra_conf={"spark.driver.extraJavaOptions": java_opts},
    )
    spark.sparkContext.setLogLevel("ERROR")

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    cores = spark.sparkContext.defaultParallelism
    n = spark.range(0, 4 * cores, 1, cores).select(plus_one("id").alias("x")).agg(F.sum("x")).first()[0]
    if n != sum(range(1, 4 * cores + 1)):
        raise RuntimeError("trivial set-up job returned a wrong sum")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark worker processes still running after the JVM exited")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] != b"Z"


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def provenance(spark, master: str, seed: int, corpus_digest: str) -> dict:
    import platform

    import pyspark

    tree = hashlib.sha256()
    pkg = os.path.join(ROOT, "sparkdedup")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                tree.update(name.encode() + b"\0" + f.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            ref = open(ref_path).read().strip() if os.path.isfile(ref_path) else ref
        commit = ref
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": master,
        "commit": commit,
        "sparkdedup_tree_sha256": tree.hexdigest(),
        "seed": seed,
        "corpus_sha256": corpus_digest,
    }


class Calls:
    """Library calls of one run: counts, failures and surviving-id digests."""

    def __init__(self, spark, wl, corpus, input_path: str, run_dir: str) -> None:
        self.spark, self.wl, self.corpus = spark, wl, corpus
        self.input_path, self.run_dir = input_path, run_dir
        self.input_sha = dict(zip(
            corpus.docs["doc_id"].tolist(),
            [hashlib.sha256(t.encode()).hexdigest() for t in corpus.docs["content"].tolist()],
        ))
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.digests = set()

    def attempt(self, fn) -> None:
        """Count one call; it failed if it raised or ``fn`` returned errors."""
        self.attempted += 1
        try:
            errors = fn()
        except Exception as e:  # a failing call is a measured outcome
            errors = [f"{type(e).__name__}: {e}"]
        if errors:
            self.failed += 1
            self.errors.extend(errors)

    def check(self, out) -> list:
        errors = check_output(out, self.corpus, self.input_sha)
        self.digests.add(survivor_digest(out))
        if len(self.digests) > 1:
            errors.append("surviving ids differ between calls")
        return errors

    def timed(self, tag: str) -> dict:
        """One timed library call in a fresh directory, then its checks."""
        rep_dir = os.path.join(self.run_dir, tag)
        box = {}

        def go():
            t = time.perf_counter()
            out = self.wl.call(self.spark, self.input_path, rep_dir)
            box.update(wall=time.perf_counter() - t, out=out)
            errors = self.check(out)
            box.update(ok=not errors, survivors=len(out.survivors))
            return errors

        self.attempt(go)
        return box


def measure(calls: Calls, seconds: float, setup_s: float) -> dict:
    """About ``seconds`` of timed calls, each under the RSS sampler.

    The call count is fixed by ``seconds`` and the workload's nominal call
    time, not by the clock: calls keep getting faster for many calls after
    warm-up, so a clock-driven count would put the median at a different
    point of that curve on a slower or faster run (or commit)."""
    wl = calls.wl
    walls, peaks, spans = [], [], []
    # each call in a span of its own, so its Spark jobs carry a job group
    tr = Tracer(calls.spark, run_id=f"pb{os.getpid()}")
    cpu0 = cpu_times()
    with RssSampler(interval=0.1) as rss:
        for _ in range(max(3, round(seconds / wl.call_s))):
            tag = f"rep{calls.attempted}"
            rss.take_peak()
            with tr.span("call") as span:
                box = calls.timed(tag)
            peaks.append({k: v / MB for k, v in rss.take_peak().items()})
            shutil.rmtree(os.path.join(calls.run_dir, tag), ignore_errors=True)
            if not box.get("ok"):
                break
            walls.append(box["wall"])
            spans.append(span)
    steal = steal_share(cpu0, cpu_times())
    if not walls:
        raise RuntimeError(f"every timed call failed: {calls.errors[:3]}")
    tr.collect_spark()
    wall = statistics.median(walls)
    # per-call peaks: a transient spike (processes forking) moves one
    # call's peak, not the median. The Python side is reported per
    # process (the driver, and the largest worker): how many idle workers
    # Spark keeps alive varies between runs, and the summed Python RSS of
    # identical runs differed by eight workers' worth (about 1 GB).
    driver_rss = statistics.median(p["driver"] for p in peaks)
    worker_rss = statistics.median(p["worker"] for p in peaks)
    # the JVM side: Spark's own accounting of the execution memory a call
    # needs (its largest stage, summed over that stage's tasks). JVM RSS
    # follows G1 heap growth and swung 2x between identical runs.
    exec_mem = [s.spark["peak_exec_mem_mb"] for s in spans]
    metrics = {
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "driver_peak_rss_mb": driver_rss,
        "worker_peak_rss_mb": worker_rss,
        "jvm_peak_exec_mem_mb": statistics.median(exec_mem),
        "setup_s": setup_s,
    }
    q1, med, q3 = quartiles(walls)
    print(f"{wl.name}: {wl.n_docs} docs, {len(walls)} timed calls, median {med:.3f} s "
          f"(q1 {q1:.3f}, q3 {q3:.3f}); CPU steal {steal:.1%}")
    for name, value in metrics.items():
        print(f"  {name} = {value:.4f} {E2E_UNITS[name]}")
    top = {k: max(p[k] for p in peaks) for k in peaks[0]}
    print(f"  highest peak RSS of any call: JVM {top['jvm']:.0f} MB, Python driver and workers "
          f"{top['python']:.0f} MB, together {top['total']:.0f} MB ({rss.samples} samples, "
          f"{len(descendants(os.getpid()))} processes under the driver)")
    return {"metrics": metrics, "cpu_steal": steal,
            "samples": {"wall_s": walls, "peak_rss_mb": peaks, "jvm_peak_exec_mem_mb": exec_mem}}


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def pipeline_extras(calls: Calls, first, into: dict) -> list:
    """From a finished staged run: the job's own stage times, its write
    amplification, and a rerun after the last stage marker is removed
    (checked like any call, so it must reproduce the survivors)."""
    rep_dir = os.path.join(calls.run_dir, "reference")
    with open(first.metrics_path) as f:
        stages = json.load(f)["stages"]
    into.update({f"pipeline.{k}.wall_s": float(v["seconds"]) for k, v in stages.items()})
    work, out = os.path.join(rep_dir, "work"), os.path.join(rep_dir, "out")
    into["pipeline.write_amp"] = (_du(work) + _du(out)) / _du(calls.input_path)
    os.remove(os.path.join(work, "assignment.parquet", "_SUCCESS"))
    shutil.rmtree(out)
    t = time.perf_counter()
    again = calls.wl.call(calls.spark, calls.input_path, rep_dir)
    into["pipeline.resume_s"] = time.perf_counter() - t
    return calls.check(again)


def traced(calls: Calls, seed: int) -> dict:
    """Untraced reference call, then the traced decomposition of the same
    work and the workload's companion layers; returns the per-layer
    metrics and the spans."""
    wl, spark = calls.wl, calls.spark
    ref = calls.timed("reference")
    derived = {}
    if wl.staged and ref.get("ok"):
        calls.attempt(lambda: pipeline_extras(calls, ref["out"], derived))
    derived.update(wl.kernels(calls.corpus))

    tr = Tracer(spark, run_id=f"pb{os.getpid()}")

    def go():
        extra, out = wl.trace(spark, tr, calls.input_path, os.path.join(calls.run_dir, "traced"))
        derived.update(extra)
        return calls.check(out)

    calls.attempt(go)
    main_spans = list(tr.spans)
    if wl.companion is not None:
        def companion():
            extra, errors = wl.companion(spark, tr, calls.run_dir, seed)
            derived.update(extra)
            return errors

        calls.attempt(companion)
    tr.collect_spark()
    table = layer_table(tr.spans)
    # the overhead compares the decomposition of the timed call alone
    total = sum(s.wall_s for s in main_spans if s.parent is None)
    self_sum = sum(row["self_s"] for row in layer_table(main_spans).values())
    untraced = ref.get("wall", 0.0)
    derived["trace.total_s"] = total
    derived["trace.untraced_wall_s"] = untraced
    derived["trace.overhead"] = total / untraced - 1 if untraced else 0.0
    if "cc" in table:
        derived["cc.edges"] = table["cc"].get("edges", 0.0)
        derived["cc.driver_s"] = table["cc"]["wall_s"] - table["cc"].get("job_s", 0.0)
    if "minhash.signatures" in table and "minhash.kernel_us_per_doc" in derived:
        task_us = table["minhash.signatures"]["task_run_s"] * 1e6 / wl.n_docs
        derived["minhash.udf_overhead_us_per_doc"] = task_us - derived["minhash.kernel_us_per_doc"]

    metrics = {}
    for name in per_layer_units():
        layer, _, counter = name.rpartition(".")
        if layer in table and counter in LAYER_UNITS:
            metrics[name] = float(table[layer].get(counter, 0.0))
        else:
            metrics[name] = float(derived.get(name, 0.0))

    print(f"{wl.name} traced: total {total:.3f} s, sum of self times {self_sum:.3f} s, "
          f"untraced call {untraced:.3f} s, overhead {derived['trace.overhead']:+.1%}")
    cols = tuple(LAYER_UNITS)
    print(f"  {'layer':<32}" + "".join(f"{c:>17}" for c in cols))
    for layer in table:
        print(f"  {layer:<32}" + "".join(f"{table[layer].get(c, 0.0):>17.3f}" for c in cols))
    for name, value in derived.items():
        print(f"  {name} = {value:.4f} {EXTRA_UNITS.get(name, '')}")
    return {"metrics": metrics, "spans": tr.to_json(), "layers": table}


def run_all(args) -> None:
    """Every workload in its own process, one after another."""
    import subprocess

    summary = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        print(proc.stdout, end="", flush=True)
        lines = proc.stdout.strip().splitlines()
        summary[name] = json.loads(lines[-1]) if proc.returncode == 0 and lines else {"exit": proc.returncode}
    print(json.dumps(summary))
    if any("exit" in r for r in summary.values()):
        sys.exit(1)


def main(argv=None) -> None:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)
    master = f"local[{len(os.sched_getaffinity(0))}]"

    spark = start_session(master, run_dir)
    session_s = time.perf_counter() - PROCESS_START
    try:
        corpus = corpus_mod.generate(wl.mix, wl.n_docs, args.seed)
        digest = corpus.digest()
        if args.trace and corpus_mod.self_check(wl.mix, wl.n_docs, args.seed) != digest:
            raise RuntimeError("corpus generator is not deterministic")
        input_path = corpus_mod.write_corpus(corpus, os.path.join(run_dir, "input.parquet"), wl.input_files)
        calls = Calls(spark, wl, corpus, input_path, run_dir)
        # warm-up: the first call pays class loading, code generation,
        # worker imports and JIT compilation (2-3x a later call), and the
        # next few still speed up call by call; timing starts where the
        # calls level off
        warm = [calls.timed(f"warmup{i}") for i in range(wl.warmup_calls)]
        warm_s = [w.get("wall", 0.0) for w in warm]
        print(f"setup: session {session_s:.3f} s; warm-up calls "
              f"{', '.join(f'{w:.3f}' for w in warm_s)} s")
        result = {"workload": wl.name, "n_docs": wl.n_docs, "trace": args.trace,
                  "survivors": warm[0].get("survivors"), "setup_s": session_s, "warmup_s": warm_s}
        result.update(traced(calls, args.seed) if args.trace else measure(calls, args.seconds, session_s))
        result["failed_ratio"] = calls.failed / calls.attempted
        result["errors"] = calls.errors[:20]
        result["survivor_digest"] = sorted(calls.digests)
        result["provenance"] = provenance(spark, master, args.seed, digest)
        print(f"  failed_ratio = {result['failed_ratio']:.4f} ({calls.failed}/{calls.attempted} calls), "
              f"survivors {result['survivors']}")
        print(f"provenance: {json.dumps(result['provenance'])}")
        for err in result["errors"]:
            print(f"error: {err}")
    finally:
        stop_session(spark)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_file = os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_file, "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    units = per_layer_units() if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": calls.failed == 0 and len(calls.digests) == 1,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
