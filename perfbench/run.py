"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload v1_qa --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, table

A run starts the Spark JVM and session on ``local[nproc]`` and generates
and loads the seeded input once, cold (``setup_s``), makes the workload's
untimed warm-up runs, then runs the workload back to back for ``--seconds``: a
run starts only if the previous one's wall says it ends in time, and
there is always at least one.  Every output is checked.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json (medians over the timed runs);
``--trace 1`` makes traced runs and one untraced run on a session with
an event log and reports the per-layer metrics (medians over the traced
runs).  The last stdout line is the JSON result; a table goes to stderr.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# get_spark's 8g default lets the process tree grow to 3.5-5 GB on these
# workloads at 4 CPUs; with 2g it stays at 1.6-2.9 GB
DRIVER_MEMORY = "2g"
TRACED_RUNS = 2            # so the traced run shows the call count repeats

END_TO_END = [("wall_s", "s"), ("items_per_s", "items/s"), ("cpu_s", "s"),
              ("peak_rss_mb", "MB"), ("setup_s", "s")]


def _prepare_env(work: str) -> dict[str, str]:
    """Keep the JVM, the Python workers and their temp files inside
    ``work``; put the checkout on the workers' import path."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _self_check(seed: int) -> bool:
    """The latency clients reply byte for byte like the bare mocks."""
    from llmxmapreduce_spark.llm.client import MockQAClient
    from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient
    from llmxmapreduce_spark.pipelines import v1_qa

    from perfbench.latency import LatencyQAClient, LatencySurveyClient

    fact = "The secret key for document 7 is SK-12345."
    q = "What is the secret key for document 7?"
    block = ("Extracted Information: x\nRationale: y\nAnswer: SK-12345\n"
             "Confidence Score: 5")
    qa = [v1_qa.MAP_PROMPT.format(context=f"spark row {fact}", question=q),
          v1_qa.MAP_PROMPT.format(context="spark row", question=q),
          v1_qa.COLLAPSE_PROMPT.format(context=block, question=q),
          v1_qa.REDUCE_PROMPT.format(context=block, question=q), "other"]
    outline = "```markdown\n# T\n## Alpha\nA.\n```"
    survey = ["[INIT_OUTLINE]\nSurvey title: T\nBibkey: 'p1'\nBibkey: 'p2'",
              f"[DIGEST]\nSurvey title: T\nPaper bibkey: p1\n{outline}",
              f"[MODIFY]\n{outline}\n```suggestion\nMore.\n```",
              f"[EVAL_OUTLINE]\n{outline}", "[SELF_REFINE] T",
              "[ORCHESTRA]\nSection title: Alpha\nPaper bibkey: p1", "other"]
    return (all(LatencyQAClient(seed).complete(p) == MockQAClient().complete(p)
                for p in qa)
            and all(LatencySurveyClient(seed).complete(p)
                    == MockSurveyClient().complete(p) for p in survey))


class Bench:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool):
        from perfbench.workloads import WORKLOADS

        self.w = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
        self.conf = _prepare_env(self.work)
        self.cpus = len(os.sched_getaffinity(0))
        self.state: dict = {}
        self.attempted = self.failed = 0
        self.spark = None

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        from llmxmapreduce_spark.session import get_spark

        from perfbench import tracing

        conf = dict(self.conf)
        if self.trace:
            conf.update(tracing.spark_conf(os.path.join(self.work, "events")))
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}",
                               master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus,
                               extra_conf=conf)
        input_dir = os.path.join(self.work, "input")
        self.meta = self.w.make_inputs(self.seed, input_dir)
        self.data = self.w.load(self.spark, self.meta)
        self.warm = (self.data, self.meta)
        if self.w.make_warmup_inputs is not None:
            meta = self.w.make_warmup_inputs(self.seed, input_dir)
            self.warm = (self.w.load(self.spark, meta), meta)
        setup_s = time.perf_counter() - t0
        self.log("set-up", [setup_s])
        return setup_s

    def log(self, what: str, values) -> None:
        print(f"{self.w.name} {what}: " + " ".join(f"{v:.3f}" for v in values),
              file=sys.stderr, flush=True)

    # --------------------------------------------------------------- runs
    def once(self, traced: bool = False, tag: str = "", inputs=None) -> dict:
        """One closed-loop run: input to collected, checked result.
        ``inputs`` is a ``(data, meta)`` pair, the measured input if None."""
        from llmxmapreduce_spark.retention import pinned_ids

        from perfbench import procstat, tracing

        data, meta = inputs or (self.data, self.meta)
        sc = self.spark.sparkContext
        trace_dir = None
        sm = None
        if traced:
            trace_dir = os.path.join(self.work, "spans", tag)
            os.makedirs(trace_dir, exist_ok=True)
            sm = tracing.StageCuts(self.spark)
        timed: list = []

        def wrap(p):
            timed.append(tracing.TimedPlanner(p))
            return timed[-1]

        factory = self.w.client_factory(self.seed, trace_dir)
        sc.setJobGroup(tag or "run", tag or "run")
        cpu0 = procstat.tree_stats()[0]
        self.rss.reset()
        t0 = time.time()
        err = None
        try:
            result, items = self.w.run(self.spark, data, meta, factory,
                                       sm, wrap if traced else None)
        except Exception as e:  # noqa: BLE001 - a run that raises fails all items
            traceback.print_exc()
            result, items, err = None, meta.get("items", 1), e
        t1 = time.time()
        rec = {"t0": t0, "t1": t1, "wall_s": t1 - t0,
               "cpu_s": procstat.tree_stats()[0] - cpu0,
               "peak_rss_mb": self.rss.reset(), "items": items}
        self.state["items"] = items
        if err is None:
            rec["failed"] = min(items, self.w.check(result, meta, self.state))
            if rec["failed"]:
                print(f"check failed: {self.state.get('check')}", file=sys.stderr)
        else:
            print(f"run failed: {type(err).__name__}: {err}", file=sys.stderr)
            rec["failed"] = items
        # checkpoints whose Python frames are gone are unpinned before
        # they are counted
        gc.collect()
        rec["pinned_rdds"] = len(pinned_ids(sc))
        if traced:
            rec["sm"], rec["trace_dir"] = sm, trace_dir
            rec["planner"] = timed[0] if timed else None
            rec["jobs_stages"] = tracing.job_stage_counts(sc, tag)
        return rec

    def warm_up(self) -> None:
        """Untimed runs; their outputs are checked like the timed runs'."""
        recs = [self.once(inputs=self.warm) for _ in range(self.w.warmups)]
        for rec in recs:
            self.attempted += rec["items"]
            self.failed += rec["failed"]
        self.log("warm-up walls", [r["wall_s"] for r in recs])

    def measure(self) -> list[dict]:
        """Timed runs until ``--seconds`` is spent.  With tracing, the
        second run is plain and all others are traced: the plain run sits
        between two traced ones, which the overhead compares it with."""
        runs: list[dict] = []
        deadline = time.time() + self.seconds
        min_runs = 1 + TRACED_RUNS if self.trace else 1
        while (len(runs) < min_runs
               or time.time() + runs[-1]["wall_s"] <= deadline):
            k = len(runs)
            traced = self.trace and k != 1
            rec = self.once(traced, f"{'traced' if traced else 'plain'}-{k}")
            rec["traced"] = traced
            runs.append(rec)
            self.attempted += rec["items"]
            self.failed += rec["failed"]
            if rec["failed"] and rec["items"] == rec["failed"]:
                break
        for k in ("wall_s", "cpu_s", "peak_rss_mb"):
            self.log(f"timed {k}", [r[k] for r in runs])
        return runs

    # ------------------------------------------------------------ results
    def end_to_end(self, runs: list[dict], setup_s: float) -> dict:
        med = {k: statistics.median(r[k] for r in runs)
               for k in ("wall_s", "cpu_s", "peak_rss_mb")}
        items = statistics.median(r["items"] for r in runs)
        vals = {**med, "items_per_s": items / med["wall_s"], "setup_s": setup_s}
        return {name: {"value": vals[name], "unit": unit}
                for name, unit in END_TO_END}

    def per_layer(self, runs: list[dict]) -> dict:
        from perfbench import tracing

        log = tracing.load_event_log(os.path.join(self.work, "events"))
        traced = [r for r in runs if r["traced"]]
        plain = [r for r in runs if not r["traced"]]
        per_run = [layer_metrics(self.w, r, log) for r in traced]
        pinned = [r["pinned_rdds"] for r in runs]
        calls = {m["llm.calls"] for m in per_run}
        if len(calls) > 1:       # the call count must repeat exactly
            print(f"llm.calls differ between runs: {sorted(calls)}",
                  file=sys.stderr)
            self.failed += 1
        out = {}
        for name, unit in PER_LAYER:
            if name == "trace.overhead_s":
                v = (statistics.median(r["wall_s"] for r in traced)
                     - statistics.median(r["wall_s"] for r in plain))
            elif name == "retention.pinned_rdds":
                v = pinned[-1]
            elif name == "retention.pinned_rdds_per_run":
                v = (pinned[-1] - pinned[0]) / max(len(pinned) - 1, 1)
            else:
                v = statistics.median(m.get(name, 0) for m in per_run)
            out[name] = {"value": v, "unit": unit}
        return out


TOOLS = ["topic_expansion", "generate_search_queries", "web_search",
         "crawl_urls", "group_papers", "skeleton_init", "digest_generation",
         "skeleton_refine", "writing"]
# V3's stage tools run V2's stage functions (build_papers/group_papers,
# init_outlines, make_digests, feedback/conv_refine, decode_survey) each to
# an eager cut, so on v3_host a V2 stage's wall is its tool's interval
# (skeleton_refine also re-digests against the refined outline)
V2_STAGE_TOOLS = {"papers": "group_papers", "outline": "skeleton_init",
                  "digest": "digest_generation", "refine": "skeleton_refine",
                  "decode": "writing"}


def _per_layer_names() -> list[tuple[str, str]]:
    from perfbench.latency import KIND_NAMES

    names = [("llm.calls", "count"), ("llm.prompt_chars", "chars"),
             ("llm.reply_chars", "chars"), ("llm.wait_s", "s"),
             ("llm.model_cpu_s", "s"), ("llm.concurrency_mean", "calls"),
             ("llm.concurrency_max", "calls"), ("llm.callers", "count")]
    names += [(f"llm.calls.{k}", "count") for k in KIND_NAMES]
    names += [("v1_qa.map.wall_s", "s"), ("v1_qa.collapse.wall_s", "s"),
              ("v1_qa.collapse.rounds", "count"), ("v1_qa.reduce.wall_s", "s"),
              ("v1_qa.chunks", "count")]
    names += [(f"v2_survey.{s}.wall_s", "s")
              for s in ("papers", "outline", "digest", "refine", "decode")]
    for s in ("quality_redact", "exact_dedup", "near_dedup", "pack"):
        names += [(f"corpus_prep.{s}.wall_s", "s"), (f"corpus_prep.{s}.rows", "count")]
    names += [("v3_host.planner_rounds", "count")]
    names += [(f"v3_host.tool.{t}.wall_s", "s") for t in TOOLS]
    names += [("spark.jobs", "count"), ("spark.stages", "count"),
              ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
              ("spark.executor_cpu_s", "s"), ("spark.shuffle_bytes", "bytes"),
              ("spark.driver_gap_s", "s"),
              ("retention.pinned_rdds", "count"),
              ("retention.pinned_rdds_per_run", "count"),
              ("trace.overhead_s", "s"), ("trace.uncovered_share", "ratio")]
    return names


PER_LAYER = _per_layer_names()


def layer_metrics(w, rec: dict, log: dict) -> dict:
    """Every per-layer metric of one traced run."""
    from perfbench import tracing

    spans = tracing.load_llm_spans(rec["trace_dir"])
    m = tracing.llm_metrics(spans)
    lo, hi = rec["t0"], rec["t1"]
    m.update(tracing.spark_metrics(log, lo, hi))
    m["spark.jobs"], m["spark.stages"] = rec["jobs_stages"]
    sm, planner = rec["sm"], rec["planner"]
    seg = sm.segments(hi, w.stage_tail)
    if w.name == "v1_qa":
        m["v1_qa.map.wall_s"] = seg.get("map", 0.0)
        m["v1_qa.collapse.wall_s"] = seg.get("collapse", 0.0)
        m["v1_qa.collapse.rounds"] = sm.rounds("collapse")
        m["v1_qa.reduce.wall_s"] = seg.get("reduce", 0.0)
        m["v1_qa.chunks"] = sm.rows("chunk")
    elif w.name == "v2_survey":
        for s in ("papers", "outline", "digest", "refine", "decode"):
            m[f"v2_survey.{s}.wall_s"] = seg.get(s, 0.0)
    elif w.name == "corpus_prep":
        for s in ("quality_redact", "exact_dedup", "near_dedup", "pack"):
            m[f"corpus_prep.{s}.wall_s"] = seg.get(s, 0.0)
            m[f"corpus_prep.{s}.rows"] = sm.rows("packing" if s == "pack" else s)
    activity = [(s["t0"], s["t1"]) for s in spans] + list(log["jobs"])
    if planner is not None:
        m["v3_host.planner_rounds"] = len(planner.calls)
        walls = planner.tool_walls(hi)
        for tool, v in walls.items():
            m[f"v3_host.tool.{tool}.wall_s"] = v
        for stage, tool in V2_STAGE_TOOLS.items():
            m[f"v2_survey.{stage}.wall_s"] = walls.get(tool, 0.0)
        activity += planner.spans()
    m["trace.uncovered_share"] = 1.0 - tracing.union_length(activity, lo, hi) / (hi - lo)
    return m


def bench(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import procstat

    b = Bench(name, seed, seconds, trace)
    try:
        if not _self_check(seed):
            raise SystemExit("latency client replies differ from the bare mock")
        setup_s = b.setup()
        with procstat.PeakRss() as b.rss:
            b.warm_up()
            runs = b.measure()
        if trace:
            b.spark.stop()          # flushes the event log
            b.spark = None
            metrics = b.per_layer(runs)
        else:
            metrics = b.end_to_end(runs, setup_s)
        _summary(name, runs, metrics, b)
        return {"correct": b.failed == 0, "attempted": b.attempted,
                "failed": b.failed, "metrics": metrics}
    finally:
        if b.spark is not None:
            b.spark.stop()
        _stop_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(b.work))    # kept while another run uses it
        except OSError:
            pass


def _stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait for it:
    PySpark's gateway JVM exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _summary(name, runs, metrics, b) -> None:
    err = b.failed / max(b.attempted, 1)
    print(f"{name}: {len(runs)} runs, seed {b.seed}, local[{b.cpus}], "
          f"error_rate {err:.4f}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:<36} {v['value']:>14.6g} {v['unit']}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    res = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


def run_all(args) -> int:
    """Every workload, each in its own process; fails if any check does."""
    from perfbench.workloads import WORKLOADS

    bad = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if res is None or not res["correct"]:
            bad += 1
        print(json.dumps({"workload": name, **(res or {"correct": False})}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
