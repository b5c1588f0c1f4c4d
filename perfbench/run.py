#!/usr/bin/env python3
"""KG-construction benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it are a readable table.  ``--trace 0`` reports the end-to-end
metrics of ``BENCHMARK.json``, ``--trace 1`` its per-layer metrics.

Workloads (``workloads.py`` has the pinned input sizes):

    extract_mixed    relations.extract_canonical_triples over generated
                     mixed turns.  Kernel and Arrow transport dominate.
    job_tpch         pipeline.run_pipeline bucket-wise with lineage on
                     TPC-H turns: the deployed job path.
    stream_maintain  streaming.kg_maintain.run_streaming_kg_maintenance,
                     draining a fixed backlog one file per micro-batch.
    graph_analytics  the graph module's analytics over a materialized KG.
                     No Python kernel: the JVM graph layer alone.

BENCHMARK.json lists extract_mixed and job_tpch.  One run costs about a
minute on a 4-core host (set-up alone is about 30 s), so comparing two
builds with ten runs per workload each, plus traced runs, stays under an
hour only with two workloads.  The other two run by name, and the traced
runs of the listed ones measure their layers with one pass each:
extract_mixed's traced run drains stream_maintain (maintain.*), job_tpch's
runs the graph_analytics suite (graph.*).

End-to-end metrics (untraced run):

    setup_s       median of 3 set-up cycles.  A cycle starts a SparkSession
                  (the first cycle also pays Python and JVM start-up, timed
                  from process start), builds the NER model and dictionary,
                  and runs one small job on the full kernel path so the
                  Python workers are up.  Later cycles stop the session
                  first.  Writing the input files is not counted.
    wall_s        median wall time of one pass over the workload's input.
                  When a run has room for more than one pass, the first
                  pass only warms up and is left out of wall_s, cpu_s and
                  the batch latencies.
    turns_per_s   input turns of a pass / wall_s (for graph_analytics: the
                  turns the analysed KG was extracted from).
                  wall_s, cpu_s and the batch latencies are medians over a
                  few passes at most (one pass of job_tpch fills a run), so
                  their run-to-run spread is mostly the host's drift.
    cpu_s         median CPU seconds of one pass, JVM plus every Python
                  worker (from /proc; the benchmark's own process is
                  excluded).
    batch_p50_s   median latency of a batch: a micro-batch (stream), a
                  bucket (job), an analytic (graph), a pass (extract).
    batch_tail_s  the highest nearest-rank latency percentile that has at
                  least 10 batches beyond it; with fewer than 20 batches in
                  the run that is the median.

Failed operations (an exception, or a pass whose output check fails) are
counted in ``failed`` against ``attempted``; error_rate = failed/attempted
is printed in the table.  It is not a metric because it is 0 on a correct
build.  A run's output is checked after every pass, outside the timing:
extract_mixed against generated_gold_triples_df, job_tpch against the
TPC-H triples derived from the base tables plus lineage row counts and
checksums, stream_maintain's folded stores against a batch recompute,
graph_analytics against pure-Python recomputations (reference.py).

The traced run does one warm pass and the untraced timed phase, then
restarts the session with an uncompressed Spark event log and runs the
timed phase again; ``trace.overhead_share`` is traced wall_s / untraced
wall_s - 1.  The kernel sample, the driver numbers and the probes follow.
Per-layer numbers are per pass unless their name says otherwise.
Layers a workload does not exercise read 0.  ``memory.peak_rss_mb`` is the
peak summed RSS of the JVM and the Python workers over the traced phase
(sampled every 0.25 s).  It has no bound: across runs of one build it
jumps between about 1.5 and 3.9 GB with JVM heap growth and the number of
live Python workers, too wide for the largest bound the benchmark allows.

The benchmark writes only under ``.perfbench_work/`` in the current
directory and removes its run directory and every process it started
before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_CYCLES = 3
CORES = 4


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail_latency(samples: list[float]) -> float:
    """Nearest-rank percentile q = max(0.5, 1 - 10/n): the highest one with
    at least 10 samples above it (the median when n < 20)."""
    xs = sorted(samples)
    if len(xs) < 20:
        return statistics.median(xs)
    return xs[math.ceil((1.0 - 10.0 / len(xs)) * len(xs)) - 1]


def configure_environment(root: str, work: str, cores: int) -> None:
    """Everything the JVM and the Python workers inherit; must run before
    the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(
            "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


class Bench:
    def __init__(self, workload, cores: int, work: str):
        self.wl = workload
        self.cores = cores
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.next_pass = 0

    def new_session(self):
        from palladian_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                            "1000")

    def setup_cycle(self) -> None:
        self.new_session()
        self.wl.build(self.spark)
        self.wl.warm_up(self.spark)

    def set_up(self, n_cycles: int = SETUP_CYCLES) -> float:
        t = time.perf_counter()
        self.wl.prepare_local()
        local_s = time.perf_counter() - t
        self.setup_cycle()
        cycles = [_since_process_start() - local_s]
        self.wl.prepare(self.spark)
        for _ in range(n_cycles - 1):
            t = time.perf_counter()
            self.setup_cycle()
            cycles.append(time.perf_counter() - t)
        print("setup cycles (s): " + " ".join(f"{c:.3f}" for c in cycles),
              file=sys.stderr)
        return statistics.median(cycles)

    def timed_phase(self, seconds: float):
        from proctree import RssSampler, tree_cpu_s
        sc = self.spark.sparkContext
        passes, walls, cpus = [], [], []
        sampler = RssSampler().start()
        start_ms = time.time() * 1e3
        deadline = time.perf_counter() + seconds
        while True:
            i = self.next_pass
            self.next_pass += 1
            self.attempted += 1
            sc.setJobDescription(f"perfbench:{i}:pass")
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                res = self.wl.run_pass(self.spark, i)
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                sc.setJobDescription(None)
                err = self.wl.check(self.spark, i)
            except Exception:  # one failed pass must not end the run
                traceback.print_exc()
                res, err = None, "raised"
            if err:
                self.failed += 1
                print(f"pass {i} FAILED: {err}", file=sys.stderr)
            elif res is not None:
                passes.append(res)
                walls.append(wall)
                cpus.append(cpu)
            self.wl.cleanup_pass(i)
            if time.perf_counter() >= deadline:
                break
        end_ms = time.time() * 1e3
        peak = sampler.stop()
        print("pass wall (s): " + " ".join(f"{w:.3f}" for w in walls)
              + "  cpu (s): " + " ".join(f"{c:.2f}" for c in cpus),
              file=sys.stderr)
        return passes, walls, cpus, peak, (start_ms, end_ms)

    def end_to_end(self, setup_s: float, seconds: float) -> dict:
        passes, walls, cpus, _, _ = self.timed_phase(seconds)
        if not passes:
            return {}
        if len(passes) > 1:  # the first pass still warms the JIT
            passes, walls, cpus = passes[1:], walls[1:], cpus[1:]
        batches = [b for p in passes for b in p.batch_s]
        wall = statistics.median(walls)
        print(f"passes {len(passes)}, batches {len(batches)}",
              file=sys.stderr)
        return {
            "setup_s": setup_s,
            "wall_s": wall,
            "turns_per_s": passes[0].turns / wall,
            "cpu_s": statistics.median(cpus),
            "batch_p50_s": statistics.median(batches),
            "batch_tail_s": tail_latency(batches),
        }

    def traced(self, seconds: float) -> dict:
        from eventlog import EventLog, load_events
        # one warm pass first, so that both compared phases run warm
        self.timed_phase(0)
        untraced, walls0, _, _, _ = self.timed_phase(seconds)
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        system = self.spark._jvm.java.lang.System
        for key, value in (("spark.eventLog.enabled", "true"),
                           ("spark.eventLog.compress", "false"),
                           ("spark.eventLog.dir", "file://" + log_dir)):
            system.setProperty(key, value)
        self.setup_cycle()
        passes, walls, _, peak, (start_ms, end_ms) = self.timed_phase(seconds)
        if not passes or not walls0:
            return {}
        metrics = {"trace.overhead_share":
                   statistics.median(walls) / statistics.median(walls0) - 1,
                   "memory.peak_rss_mb": peak}
        metrics.update(self.wl.kernel_metrics(self.spark))
        metrics.update(self.wl.driver_metrics(self.spark))
        log = EventLog.parse(load_events(log_dir)).window(start_ms, end_ms)
        n = len(passes)
        for name, value in log.layer_metrics().items():
            metrics[name] = value if name == "stage.map_task_skew" else value / n
        metrics["driver.jobs"] = len(log.jobs) / n
        if self.wl.entity_dict is not None:
            metrics["driver.dict_collect_s"] = \
                log.collect_seconds("relations.py") / n
        metrics.update(self.wl.layer_metrics(self.spark, log, passes))
        for probe_cls in self.wl.probes:
            metrics.update(self.probe(probe_cls, log_dir))
        return metrics

    def probe(self, probe_cls, log_dir: str) -> dict:
        """One traced pass of another workload, for layers this workload
        does not exercise; its output is checked like any pass."""
        from eventlog import EventLog, load_events
        wl = probe_cls(os.path.join(self.work, probe_cls.name), self.wl.seed)
        os.makedirs(wl.work)
        wl.prepare_local()
        wl.prepare(self.spark)
        wl.build(self.spark)
        self.attempted += 1
        self.spark.sparkContext.setJobDescription(f"perfbench:probe:{wl.name}")
        start_ms = time.time() * 1e3
        res = wl.run_pass(self.spark, 0)
        end_ms = time.time() * 1e3
        self.spark.sparkContext.setJobDescription(None)
        err = wl.check(self.spark, 0)
        if err:
            self.failed += 1
            print(f"probe {wl.name} FAILED: {err}", file=sys.stderr)
            return {}
        log = EventLog.parse(load_events(log_dir)).window(start_ms, end_ms)
        return wl.layer_metrics(self.spark, log, [res])

    def close(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes),
        then anything left under this process, and wait for all of it."""
        from pyspark import SparkContext
        from proctree import stop_descendants
        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        except Exception:  # fall through to the forced stop below
            traceback.print_exc()
        SparkContext._gateway = SparkContext._jvm = None
        left = stop_descendants()
        if left:
            print(f"processes still alive: {left}", file=sys.stderr)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "palladian_spark")):
        print(f"no palladian_spark package under {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(CORES, os.cpu_count() or 1)
    configure_environment(root, work, cores)

    bench = Bench(WORKLOADS[args.workload](work, args.seed), cores, work)
    try:
        # the traced run does not report setup_s: one set-up cycle is enough
        setup_s = bench.set_up(1 if args.trace else SETUP_CYCLES)
        if args.trace:
            got = bench.traced(args.seconds)
        else:
            got = bench.end_to_end(setup_s, args.seconds)
    except Exception:
        traceback.print_exc()
        bench.failed += 1
        bench.attempted += 1
        got = {}
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass

    metrics = {}
    for m in wanted:
        value = float(got.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:<36} {value:>16.6g} {m['unit']}")
    print(f"{'error_rate (failed/attempted)':<36} "
          f"{bench.failed / max(bench.attempted, 1):>16.6g}")
    print(json.dumps({"correct": bench.failed == 0 and bool(got),
                      "attempted": max(bench.attempted, 1),
                      "failed": bench.failed if got else max(bench.failed, 1),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
