"""The repo benchmark: one seeded workload, run as a closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client in one Python process calls
the workload's fixed list of repo entry points one at a time against a
``local[nproc]`` session, materializing each output through the noop
sink. The run:

1. generates (or reuses, cached by seed and size) the inputs under
   ``.perfbench/inputs``; the program sees only that directory;
2. sets up (``setup_s``): imports, ``session.get_spark``, and one
   untimed warm-up pass that also collects every registry key's output
   for its value hash;
3. runs timed passes until ``--seconds`` have elapsed (at least one);
   each output goes to the noop sink under an observation of its hash;
4. checks outputs: registry keys against their DuckDB oracle, the other
   calls against invariants, and every output's observed hash against
   the warm-up pass's, so an output that changes between passes fails.

The last stdout line is the result JSON; the line before it holds the
run's context (cores, load, memory, heap, tail percentile, per-pass
times, the time of each phase). With ``--trace 1`` at least four timed
passes run, untraced, traced, traced, untraced, and the result carries
the per-layer metrics of the traced ones (see ``layers``).
Everything the run writes stays under ``.perfbench`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import replace  # noqa: E402

import cds  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0  # the run must end, processes included, within 180 s
# The driver heap is fixed here, not left at get_spark's host-sized
# default; a fixed young generation keeps the peak RSS from swinging with
# the collector's sizing decisions from run to run.
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"

E2E_UNITS = {
    "run_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "input_rows_per_s": "rows/s", "setup_s": "s", "ok_share": "ratio",
    "peak_rss_mb": "MB",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- processes ---------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_all(grace_s: float) -> None:
    """Terminate every process this run started and wait for each."""
    pids = _descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + grace_s
        while time.time() < end and any(_alive(p) for p in pids):
            time.sleep(0.1)
        for pid in pids:  # reap direct children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if not any(_alive(p) for p in pids):
            return


def _watchdog() -> None:
    _log(f"deadline of {DEADLINE_S:.0f}s reached; stopping")
    _stop_all(grace_s=3.0)
    os._exit(3)


# -- environment -------------------------------------------------------------

def configure_env(root: str, work: str) -> None:
    """Point Spark, its Python workers and every temp dir at the checkout.

    Python workers are launched by the JVM and inherit its environment,
    so the package must be on ``PYTHONPATH`` before the JVM starts:
    the driver's ``sys.path`` alone leaves workers unable to import
    ``bigdata1_spark`` when the process starts in another directory.
    """
    import tempfile

    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != root]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # every JVM, Spark's launcher included, would write /tmp/hsperfdata_*
    tool_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "-XX:-UsePerfData" not in tool_opts:
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"{tool_opts} -XX:-UsePerfData".strip())
    tempfile.tempdir = None  # re-read TMPDIR
    if root not in sys.path:
        sys.path.insert(0, root)


def spark_conf(tmp: str, cds_opt: str = "") -> dict[str, str]:
    """The benchmark's session conf; ``cds_opt`` is the driver JVM's
    class-data-sharing flag (see ``cds``)."""
    java_opts = (f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={tmp} {cds_opt}").strip()
    return {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # keep every job, stage, task and execution of the run so the
        # traced passes' record is complete (checked: collected == issued)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


# -- passes ------------------------------------------------------------------

class Runner:
    def __init__(self, spark, workload, ctx) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.ctx = ctx
        self.bad: dict[str, str] = {}  # call -> first error

    def _fail(self, call, err: str) -> None:
        self.bad.setdefault(call.name, err)

    def warmup_pass(self) -> tuple[dict[str, str], dict[str, str]]:
        """Untimed pass over every call: collects each registry key's
        output for its value hash (compared with the DuckDB oracle) and
        takes every output's observed hash (compared with the timed
        passes'). Returns (value hashes, observed hashes)."""
        from checks import observed, observed_hash, pandas_hash

        values, hashes = {}, {}
        self.ctx.outputs.clear()
        for call in self.workload.calls:
            try:
                df = call.run(self.ctx)
                self.ctx.outputs[call.name] = df
                if call.sink != "noop":
                    continue
                out, obs = observed(df)
                if call.check is None:
                    values[call.name] = pandas_hash(out.toPandas())
                else:
                    out.write.format("noop").mode("overwrite").save()
                hashes[call.name] = observed_hash(obs)
            except Exception:  # a failing call counts; the run goes on
                self._fail(call, traceback.format_exc(limit=3))
        return values, hashes

    def timed_pass(self, pass_no: int, traced: bool) -> dict:
        """One pass over the calls, each output materialized through the
        noop sink under an observation of its hash; the hashes are read
        after the pass, outside its wall time."""
        from checks import observed, observed_hash

        calls, failed, pending = [], False, {}
        self.ctx.outputs.clear()
        t_pass = time.perf_counter()
        for call in self.workload.calls:
            group = f"{call.layer}:{call.name}:{pass_no}"
            if traced:
                self.sc.setJobGroup(group, group)
            t0, e0 = time.perf_counter(), time.time()
            ok = True
            try:
                df = call.run(self.ctx)
                t1 = time.perf_counter()
                self.ctx.outputs[call.name] = df
                if call.sink == "noop":
                    out, pending[call.name] = observed(df)
                    out.write.format("noop").mode("overwrite").save()
            except Exception:
                t1 = time.perf_counter()
                ok, failed = False, True
                pending.pop(call.name, None)
                self._fail(call, traceback.format_exc(limit=3))
            t2 = time.perf_counter()
            calls.append({
                "name": call.name, "layer": call.layer, "group": group,
                "ok": ok, "build_s": t1 - t0, "s": t2 - t0,
                "t0": e0, "t1": e0 + (t2 - t0),
            })
        wall = time.perf_counter() - t_pass
        if traced:
            self.sc.setJobGroup("harness", "harness")
        return {"pass": pass_no, "traced": traced, "wall_s": wall,
                "failed": failed, "calls": calls,
                "hashes": {k: observed_hash(o) for k, o in pending.items()}}


TAIL_PCT = 90


def _tail(samples: list[float]) -> tuple[float, int]:
    """The TAIL_PCT-th percentile latency and how many samples exceed it.

    A fixed percentile, so the metric means the same thing whatever the
    number of passes that fit in the window."""
    xs = sorted(samples)
    if len(xs) < 2:
        return xs[0], 0
    value = statistics.quantiles(xs, n=100, method="inclusive")[TAIL_PCT - 1]
    return value, sum(1 for x in xs if x > value)


def _context(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "cores": os.cpu_count(),
        "master": spark.sparkContext.master,
        "host_ram_gb": round(mem_kb / 2**20, 1),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a TERM (e.g. a harness timeout) still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    configure_env(ROOT, WORK)
    tmp = os.environ["TMPDIR"]
    timer = None
    try:
        # the first run in a checkout builds the CDS archive; that build
        # is not part of the run's time limit, nor of its set-up
        t0 = time.perf_counter()
        archive = cds.ensure_archive(WORK)
        build_s = time.perf_counter() - t0
        timer = threading.Timer(
            DEADLINE_S - (time.time() - T_START - build_s), _watchdog)
        timer.daemon = True
        timer.start()
        cds_opt = f"-XX:SharedArchiveFile={archive}" if archive else ""
        return _run(args, tmp, cds_opt, build_s)
    finally:
        _stop_all(grace_s=10.0)
        shutil.rmtree(tmp, ignore_errors=True)
        if timer:
            timer.cancel()
        _log(f"run wall {time.time() - T_START:.1f}s")


def _run(args, tmp: str, cds_opt: str, build_s: float) -> int:
    import gen
    import workloads
    from bigdata1_spark.session import get_spark

    if args.workload not in workloads.WORKLOAD_KEYS:
        _log(f"unknown workload {args.workload!r}; one of "
             f"{sorted(workloads.WORKLOAD_KEYS)}")
        return 2
    load_start = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench",
                      extra_conf=spark_conf(tmp, cds_opt))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, gen, workloads, start_s, load_start,
                        build_s, bool(cds_opt))
    finally:
        spark.stop()


def _measure(args, spark, gen, workloads, start_s, load_start, build_s,
             with_cds) -> int:
    import checks
    from layers import ProgressCounter, Recorder, layer_record, metric_specs

    wl = workloads.build(args.workload)
    manifest = gen.ensure_inputs(
        spark, os.path.join(WORK, "inputs"), args.seed, wl.sf, wl.billings,
    )
    gen_s = 0.0 if manifest["cached"] else manifest["gen_s"]
    ctx = workloads.Ctx(spark, manifest, os.environ["TMPDIR"])
    runner = Runner(spark, wl, ctx)

    # set-up ends with one untimed warm-up pass; it also takes the hashes
    # the checks compare with the oracle and with every timed pass
    t0 = time.perf_counter()
    values, warm_hashes = runner.warmup_pass()
    warmup_s = time.perf_counter() - t0
    setup_s = time.time() - T_START - build_s - gen_s

    # A full GC before the timed window lets the driver heap shrink to its
    # live set, so the window's peak RSS does not depend on the set-up's
    # GC history.
    spark.sparkContext._jvm.System.gc()
    tree = [os.getpid()] + _descendants(os.getpid())
    setup_rss_mb = sum(_status_kb(pid, "VmHWM") for pid in tree) / 1024.0
    _reset_peak_rss(tree)
    load_mid = os.getloadavg()
    passes, records, infos = [], [], []
    recorder = None
    if args.trace:
        # the first timed pass still runs slower than the rest; a traced
        # run reports no end-to-end metric, so it drops that pass rather
        # than let it bias the trace overhead
        runner.timed_pass(-1, False)
        recorder = Recorder(spark.sparkContext)
    t_window = time.perf_counter()
    # passes start until the window has elapsed, so the last one may run
    # past it. Each run then holds about as many passes as fit in the
    # window, and the median stays clear of the first pass, which is
    # still slower than the rest while the JIT finishes its work.
    # With tracing, passes go untraced, traced, traced, untraced (ABBA,
    # at least once), so drift cancels out of the overhead.
    while (not passes or (args.trace and len(passes) < 4)
           or time.perf_counter() - t_window < args.seconds):
        traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        listener = ProgressCounter() if traced else None
        if listener:
            spark.streams.addListener(listener)
        p = runner.timed_pass(len(passes), traced)
        passes.append(p)
        if listener:
            listener.settle()
            spark.streams.removeListener(listener)
            rec, info = layer_record(recorder.snapshot(), p["calls"])
            rec.update(listener.record())
            rec["harness.gap_s"] = p["wall_s"] - sum(
                c["s"] for c in p["calls"])
            records.append(rec)
            infos.append(info)
    tree = [os.getpid()] + _descendants(os.getpid())
    hwm_mb = {pid: _status_kb(pid, "VmHWM") / 1024.0 for pid in tree}
    peak_rss_mb = sum(hwm_mb.values())
    load_end = os.getloadavg()
    window_s = time.perf_counter() - t_window
    t_checks = time.perf_counter()

    # correctness, outside every timed region
    oracle_keys = [c.name for c in wl.calls if c.check is None]
    try:
        want = checks.oracle_hashes(manifest["dir"], oracle_keys)
    except Exception:
        want = {}
        _log("oracle run failed:\n" + traceback.format_exc(limit=3))
    last = replace(ctx, outputs=dict(ctx.outputs))  # the last pass's frames
    for call in wl.calls:
        name = call.name
        if name in runner.bad:
            continue  # already recorded as failed
        seen = {p["hashes"][name] for p in passes if name in p["hashes"]}
        if call.sink == "noop" and seen != {warm_hashes.get(name)}:
            runner._fail(call, "output hash changed between passes")
        elif call.check is None and values.get(name) != want.get(name):
            runner._fail(call, "value hash differs from the DuckDB oracle")
        elif call.check is not None:
            try:
                err = call.check(last, last.outputs[name])
            except Exception:
                err = traceback.format_exc(limit=3)
            if err:
                runner._fail(call, err)
    checks_s = time.perf_counter() - t_checks

    # metrics
    timed = [c for p in passes for c in p["calls"]]
    attempted = len(timed)
    failed = sum(1 for c in timed if not c["ok"] or c["name"] in runner.bad)
    plain = [p for p in passes if not p["traced"]]
    clean = [p for p in plain if not p["failed"]] or plain
    run_s = statistics.median(p["wall_s"] for p in clean)
    lat = [c["s"] for p in plain for c in p["calls"]]
    tail, beyond = _tail(lat)
    input_rows = workloads.input_rows(wl, manifest)
    metrics = {
        "run_s": run_s,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail,
        "input_rows_per_s": input_rows / run_s,
        "setup_s": setup_s,
        "ok_share": 1.0 - failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "context": _context(spark) | {
            "loadavg_start": load_start, "loadavg_window_start": load_mid,
            "loadavg_end": load_end,
        },
        "inputs": {k: manifest[k] for k in
                   ("dir", "rows", "bytes", "gen_s", "cached")},
        "input_rows_per_pass": input_rows,
        "cds": with_cds,
        "phase_s": {"cds_build": build_s, "session": start_s,
                    "gen": manifest["gen_s"], "warmup": warmup_s,
                    "window": window_s, "checks": checks_s},
        "setup_peak_rss_mb": setup_rss_mb,
        "peak_rss_mb_by_process": {
            f"{pid}:{_comm(pid)}": round(mb, 1) for pid, mb in hwm_mb.items()},
        "tail_percentile": TAIL_PCT, "latency_samples": len(lat),
        "samples_beyond_tail": beyond,
        "passes": [{"wall_s": p["wall_s"], "traced": p["traced"],
                    "failed": p["failed"]} for p in passes],
        "call_s": {
            c.name: statistics.median(
                x["s"] for p in plain for x in p["calls"] if x["name"] == c.name)
            for c in wl.calls
        },
        "failures": runner.bad,
    }
    if args.trace:
        specs = metric_specs()
        layer = {name: statistics.median(r.get(name, 0.0) for r in records)
                 for name in specs}
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        layer["trace.overhead_s"] = statistics.median(
            p["wall_s"] for p in passes if p["traced"]) - run_s
        detail["trace_completeness"] = infos
        complete = all(i["jobs_collected"] == i["jobs_issued"] for i in infos)
        if not complete:
            runner.bad.setdefault("trace", "status store evicted jobs")
        out = {k: {"value": v, "unit": specs[k][0]} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]}
               for k, v in metrics.items()}
    detail["end_to_end"] = metrics
    print(json.dumps(detail, default=str))
    result = {
        "correct": not runner.bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
