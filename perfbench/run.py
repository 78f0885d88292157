#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the entity-resolution engine.

    python3 perfbench/run.py --workload cleanclean_materialized --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

One run: set up ``SETUPS`` times (start a Spark session, generate the
seeded inputs), resolve the inputs once untimed as a warm-up, then
resolve them in a closed loop -- one client, one resolution at a time,
on ``local[nproc]`` -- until ``--seconds`` have passed, and check every
output. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
spends half the window untraced and half traced and reports the
per-layer metrics, including the tracing overhead. ``--smoke`` runs every
workload at a tiny size, untraced and traced, as the benchmark's own test.

Human-readable report lines go to stdout; the last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}. The exit code
is 0 only when every correctness gate passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "continuousfilteringbenchmark_spark"
SETUPS = 5
# far below physical RAM: the engine's session default (48g) assumes a
# dedicated large host
DRIVER_MEM = "1g"
LAYERS = ("tokenize", "blocking", "bucketed", "scoring", "cluster", "stages", "continuous")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true", help="tiny sizes, every workload, untraced + traced"
    )
    args = p.parse_args(argv)
    if not args.smoke and not args.workload:
        p.error("--workload is required unless --smoke is given")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and make the engine importable by the Python workers.
    Must run before pyspark launches the JVM, which inherits this env."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def start_session(work: str):
    from continuousfilteringbenchmark_spark.session import get_spark

    cpus = nproc()
    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -UsePerfData: the JVM would otherwise keep a file in
            # /tmp/hsperfdata_<user>, outside the work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            " -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            # the status store must still hold a traced layer's jobs and
            # stages when its span ends
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def shutdown(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended meanwhile
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and every live process descended from it."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def digest(assignment: dict) -> str:
    h = hashlib.sha256()
    for doc in sorted(assignment):
        h.update(f"{doc}\t{assignment[doc]}\n".encode())
    return h.hexdigest()


def pair_quality(assignment: dict, gold: set) -> dict:
    from workloads import cluster_pairs

    pred = cluster_pairs(assignment)
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return {
        "pair_precision": p,
        "pair_recall": r,
        "pair_f1": 2 * p * r / (p + r) if p + r else 0.0,
    }


class Run:
    """One benchmark invocation: a session, a workload, its iterations."""

    def __init__(self, name: str, seed: int, work: str, scale: str = "full"):
        self.name, self.seed, self.work, self.scale = name, seed, work, scale
        self.spark = None
        self.setups: list[float] = []
        self.warmup: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.gates: dict[str, bool] = {}
        self.trace_spans: list = []

    # ---------------------------------------------------------------- set-up

    def setup(self, times: int) -> None:
        """Set up ``times`` times and keep the last: each set-up starts a
        session and loads the seeded inputs into it; the first one also
        launches the JVM and writes the inputs. A later set-up first stops
        the previous session, untimed. Then one untimed warm-up
        resolution lets the JVM, the Python workers and the engine's caches
        warm up; its assignment joins the gates."""
        from workloads import WORKLOADS

        self.wl = WORKLOADS[self.name](self.seed, self.scale, os.path.join(self.work, "workload"))
        for k in range(times):
            # stopping the previous session is left out: SparkContext.stop
            # takes 0.05-0.6 s depending on when its threads next poll
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.work)
            if k == 0:
                self.wl.generate(self.spark)
            self.wl.load(self.spark)
            self.setups.append(time.perf_counter() - t0)
        if self.scale == "full":
            self.warmup = self.measure(0, traced=False)

    @property
    def warmup_s(self) -> float:
        return self.warmup[0]["seconds"] if self.warmup and self.warmup[0]["ok"] else 0.0

    # ------------------------------------------------------------ iterations

    def iterate(self, wl, traced: bool) -> dict:
        """One resolution into the directory the workload hands out, caches
        cleared first."""
        from continuousfilteringbenchmark_spark.session import clear_session_caches
        from tracing import NullTracer, Tracer

        clear_session_caches(self.spark)
        work = wl.fresh_dir()
        tr = Tracer(self.spark, f"{self.name}/{wl.iteration}") if traced else NullTracer()
        t0 = time.perf_counter()
        try:
            assignment = wl.resolve(work, tr)
        except Exception:
            traceback.print_exc()
            tr.release()
            return {"ok": False}
        it = {"ok": True, "seconds": time.perf_counter() - t0, "assignment": assignment,
              "input": wl.input_id}
        it["digest"] = digest(assignment)
        it["obs"] = wl.observe(work)
        if traced:
            it["obs"].update(chain_details(tr, wl))
            it["spans"] = tr.spans
            self.trace_spans.extend(tr.spans)
        tr.release()
        return it

    def measure(self, seconds: float, traced: bool, reserve: int = 0) -> list[dict]:
        """Resolve until ``seconds`` have passed, at least once, while the
        workload has input left for more than ``reserve`` resolutions."""
        deadline = time.perf_counter() + seconds
        its = []
        while self.wl.remaining() > reserve:
            it = self.iterate(self.wl, traced)
            its.append(it)
            self.attempted += 1
            if not it["ok"]:
                self.failed += 1
                break
            if time.perf_counter() >= deadline:
                break
        return its

    # ----------------------------------------------------------------- gates

    def check(self, name: str, passed: bool) -> None:
        self.gates[name] = self.gates.get(name, True) and bool(passed)
        self.attempted += 1
        self.failed += 0 if passed else 1

    def run_gates(self, its: list[dict], traced_its=(), trace_gates=False) -> dict | None:
        """Check every gate; returns the pair quality of the last untraced
        resolution. ``its`` are the untraced resolutions, the warm-up first.
        Every resolution of an input already resolved untraced must give the
        first one's assignment digest."""
        from tracing import NullTracer, Tracer

        good = [it for it in its if it["ok"]]
        if not good:
            return None
        first: dict = {}
        for it in good:
            if it["input"] in first:
                self.check("digest_stable_across_iterations",
                           it["digest"] == first[it["input"]])
            else:
                first[it["input"]] = it["digest"]
        for it in (it for it in traced_its if it["ok"]):
            if it["input"] in first:
                self.check("traced_equals_untraced", it["digest"] == first[it["input"]])
            # a local-mode task failure fails its job, so a resolution with a
            # failed task has already failed; this also catches a retry
            failed_tasks = sum(sp.counters["failed_tasks"] for sp in it["spans"])
            self.check("no_failed_tasks", failed_tasks == 0)
        last = good[-1]["assignment"]
        gold = {p for p in self.wl.gold if p[0] in last and p[1] in last}
        q = pair_quality(last, gold)
        self.check(f"pair_f1>={self.wl.F1_FLOOR}", q["pair_f1"] >= self.wl.F1_FLOOR)
        tr = Tracer(self.spark, f"{self.name}/gates") if trace_gates else NullTracer()
        try:
            resolved = good + [it for it in traced_its if it["ok"]]
            for gate, passed in self.wl.gates(resolved, tr).items():
                self.check(gate, passed)
        except Exception:
            traceback.print_exc()
            self.check("workload_gates_ran", False)
        self.trace_spans.extend(tr.spans)
        tr.release()
        return q

    # --------------------------------------------------------------- metrics

    def peak_rss_mb(self) -> float:
        """Sum of the peak RSS (VmHWM) of the driver Python process, the
        JVM and the Python UDF workers still alive under the JVM."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (vm_hwm_kb("self") + sum(vm_hwm_kb(p) for p in process_tree(jvm))) / 1024.0

    def env_lines(self) -> list[str]:
        with open("/proc/meminfo") as f:
            ram_kb = int(f.readline().split()[1])
        import pyspark

        java = self.spark._jvm.java.lang.System.getProperty("java.version")
        return [
            f"workload {self.name}  scale {self.scale}  seed {self.seed}",
            f"host nproc {nproc()}  ram_gb {ram_kb / 2**20:.1f}  master local[{nproc()}]"
            f"  driver_mem {DRIVER_MEM}",
            f"versions python {platform.python_version()}  spark {pyspark.__version__}"
            f"  java {java}",
            f"input docs {self.wl.n_docs}  input_bytes {self.wl.input_bytes}"
            f"  gold_pairs {len(self.wl.gold)}",
        ]


def chain_details(tr, wl) -> dict:
    """Counts at the layer boundaries of one traced resolution, read from
    the forced layer outputs after the spans closed (so the extra jobs
    count in no span)."""
    from pyspark.sql import functions as F

    out = {}
    rows = {sp.name: sp.attrs.get("rows", 0) for sp in tr.spans}
    tok = tr.outputs.get("tokenize")
    if tok is not None:
        out["tokenize.tokens"] = int(tok.agg(F.sum(F.size("tokens"))).collect()[0][0] or 0)
    if "blocking.build" in rows:
        out["blocking.postings"] = rows["blocking.build"]
        if out.get("tokenize.tokens"):
            # standard blocking posts every distinct token of a doc once, so
            # the token count is the posting count before purging/filtering
            out["blocking.purged_frac"] = 1 - rows["blocking.build"] / out["tokenize.tokens"]
    pairs = tr.outputs.get("blocking.pairs")
    if pairs is not None:
        cand = {
            tuple(sorted((str(a), str(b))))
            for a, b in pairs.select("left_id", "right_id").collect()
        }
        tp = len(cand & wl.gold)
        out["blocking.candidate_pairs"] = len(cand)
        out["blocking.pc"] = tp / len(wl.gold) if wl.gold else 0.0
        out["blocking.pq"] = tp / len(cand) if cand else 0.0
    scored = tr.outputs.get("scoring")
    if scored is not None:
        plan = scored._jdf.queryExecution().analyzed().toString()
        out["scoring.engine"] = (
            "bucketed" if "FlatMapGroupsInPandas" in plan
            else "arrow" if "MapInPandas" in plan
            else "jvm"
        )
        out["scoring.matches"] = rows.get("scoring", 0)
    return out


def span_record(sp) -> dict:
    return {
        "run_id": sp.run_id, "span_id": sp.span_id, "parent": sp.parent, "name": sp.name,
        "layer": sp.layer, "start": sp.start, "end": sp.end, "counters": sp.counters,
        "attrs": sp.attrs,
    }


def layer_metrics(run: Run, traced: list[dict], untraced_s: float) -> dict:
    """Per-layer metrics: each is computed per traced resolution, then the
    median over the traced resolutions is reported."""
    from tracing import COUNTERS

    per_it = []
    for it in traced:
        spans = it["spans"]
        by_id = {sp.span_id: sp for sp in spans}
        child_s: dict = {}
        for sp in spans:
            if sp.parent in by_id:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + sp.seconds
        m = {}
        for layer in LAYERS:
            # failed tasks are a gate (no_failed_tasks), not a metric
            for c in COUNTERS:
                if c != "failed_tasks":
                    m[f"{layer}.{c}"] = sum(sp.counters[c] for sp in spans if sp.layer == layer)

        def secs(name):
            return sum(sp.seconds for sp in spans if sp.name == name)

        m["tokenize.s"] = secs("tokenize")
        m["blocking.build_s"] = secs("blocking.build")
        m["blocking.pairs_s"] = secs("blocking.pairs")
        m["bucketed.write_s"] = secs("bucketed.write")
        m["scoring.s"] = secs("scoring")
        m["cluster.s"] = secs("cluster")
        m["continuous.fold_s"] = secs("run_continuous_er")
        m["continuous.matches_s"] = secs("continuous.matches")
        # stage self time: the commit (parquet write + metrics append + re-read)
        m["stages.write_s"] = sum(
            sp.seconds - child_s.get(sp.span_id, 0.0)
            for sp in spans
            if sp.layer == "stages" and sp.name != "stages.resume"
        )
        obs = it["obs"]
        for k in ("tokenize.tokens", "blocking.postings", "blocking.purged_frac",
                  "blocking.candidate_pairs", "blocking.pc", "blocking.pq",
                  "bucketed.bytes", "stages.bytes", "stages.files"):
            m[k] = obs.get(k, 0)
        n_pairs = obs.get("blocking.candidate_pairs", 0)
        m["scoring.pairs_per_s"] = n_pairs / m["scoring.s"] if m["scoring.s"] else 0.0
        m["scoring.match_frac"] = obs.get("scoring.matches", 0) / n_pairs if n_pairs else 0.0
        m["trace.resolve_s"] = it["seconds"]
        per_it.append(m)
    out = {k: statistics.median(m[k] for m in per_it) for k in per_it[0]}
    out["trace.untraced_resolve_s"] = untraced_s
    out["setup.warmup_s"] = run.warmup_s
    out["trace.overhead_ratio"] = out["trace.resolve_s"] / untraced_s
    out.update(run.wl.layer_metrics([it["obs"] for it in traced]))
    return out


def emit(name: str, value, unit: str) -> None:
    print(f"  {name:34s} {value:>16.6g} {unit}" if isinstance(value, (int, float))
          else f"  {name:34s} {value:>16} {unit}")


def declared_metrics(kind: str) -> dict:
    """{name: unit} of the metrics BENCHMARK.json declares: the result
    carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def bench(args, work: str) -> int:
    run = Run(args.workload, args.seed, work)
    try:
        run.setup(1 if args.trace else SETUPS)
        if args.trace:
            # leave input for at least one traced resolution
            untraced = run.measure(args.seconds / 2, traced=False, reserve=1)
            traced = run.measure(args.seconds / 2, traced=True)
        else:
            untraced, traced = run.measure(args.seconds, traced=False), []
        quality = run.run_gates(run.warmup + untraced, traced, trace_gates=bool(args.trace))
        rss = run.peak_rss_mb()
        env = run.env_lines()
    finally:
        if run.spark is not None:
            shutdown(run.spark)
    ok_its = [it for it in untraced if it["ok"]]
    ok_untraced = [it["seconds"] for it in ok_its]
    correct = run.failed == 0 and quality is not None and all(run.gates.values())
    for line in env:
        print(line)
    for gate, passed in run.gates.items():
        print(f"gate {gate}: {'pass' if passed else 'FAIL'}")
    if not ok_untraced or quality is None or (args.trace and not any(it["ok"] for it in traced)):
        print(json.dumps({"correct": False, "attempted": max(run.attempted, 1),
                          "failed": max(run.failed, 1), "metrics": {}}))
        return 1
    resolve_s = statistics.median(ok_untraced)
    obs = [it["obs"] for it in ok_its]
    if args.trace:
        declared = declared_metrics("per_layer")
        values = layer_metrics(run, [it for it in traced if it["ok"]], resolve_s)
        undeclared = set(values) - set(declared)
        if undeclared:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
        # the result carries every declared per-layer metric on every
        # workload; a layer this workload does not run did no work: 0
        metrics = {n: {"value": values.get(n, 0), "unit": u} for n, u in declared.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        with open(path, "w") as f:
            for sp in run.trace_spans:
                f.write(json.dumps(span_record(sp)) + "\n")
        print(f"spans {len(run.trace_spans)} written to {os.path.relpath(path, ROOT)}")
        labels = [it["obs"].get("scoring.engine") for it in traced if it["ok"]]
        print(f"label scoring.engine {labels[0] if labels and labels[0] else 'none'}")
    else:
        values = {
            "setup_s": statistics.median(run.setups),
            "resolve_s": resolve_s,
            "docs_per_s": statistics.median(
                o["docs"] / it["seconds"] for o, it in zip(obs, ok_its)
            ),
            "pair_precision": quality["pair_precision"],
            "pair_recall": quality["pair_recall"],
            "pair_f1": quality["pair_f1"],
            "store_bytes_per_input_byte":
                statistics.median(o["store_bytes"] / o["input_bytes"] for o in obs),
            "peak_rss_mb": rss,
        }
        declared = declared_metrics("end_to_end")
        metrics = {n: {"value": values[n], "unit": u} for n, u in declared.items()}
        print(f"samples resolve {len(ok_untraced)} (+1 warm-up)  setup {len(run.setups)}:"
              f" {' '.join(f'{t:.2f}' for t in run.setups)} s  warm-up {run.warmup_s:.2f} s")
        emit(run.wl.RESOLVE_LABEL, resolve_s, "s")
        for name, (v, unit) in run.wl.extra_metrics(obs).items():
            emit(name, v, unit)
        emit("failed_frac", run.failed / max(run.attempted, 1), "ratio")
    for name, m in metrics.items():
        emit(name, m["value"], m["unit"])
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def smoke(work: str) -> int:
    """Every workload at a tiny size, one untraced and one traced
    resolution each plus every gate, in one session. Fails when a gate
    fails or a traced layer call left no span."""
    from workloads import WORKLOADS

    ok = True
    spark = None
    for name, cls in WORKLOADS.items():
        run = Run(name, 1, os.path.join(work, name), scale="smoke")
        run.spark = spark
        run.setup(1)
        spark = run.spark
        untraced = run.measure(0, traced=False)
        traced = run.measure(0, traced=True)
        run.run_gates(untraced, traced, trace_gates=True)
        names = {sp.name for sp in run.trace_spans}
        missing = sorted(set(cls.EXPECTED_SPANS) - names)
        good = [it for it in untraced + traced if it["ok"]]
        if len(good) == 2:
            values = layer_metrics(run, [traced[0]], untraced[0]["seconds"])
            for k, v in values.items():
                emit(k, v, "")
        print(f"{name}: gates {run.gates}  missing spans {missing or 'none'}")
        ok = ok and len(good) == 2 and run.failed == 0 and not missing
    if spark is not None:
        shutdown(spark)
    print("smoke", "pass" if ok else "FAIL")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload or 'smoke'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host_env(work)
    try:
        from workloads import WORKLOADS

        if not args.smoke and args.workload not in WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        return smoke(work) if args.smoke else bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
