"""A class-data-sharing archive of the driver JVM, built once per checkout.

    python3 perfbench/cds.py ARCHIVE

A fresh JVM spends several seconds of every run loading and verifying
the same few thousand Spark classes. Built once, this archive lets each
run map them instead (``-XX:SharedArchiveFile``); it changes what the
JVM loads at start-up, not the code it runs. The build starts a session
with ``-XX:ArchiveClassesAtExit``, runs every workload's calls once over
tiny inputs so the classes they use are loaded, and lets the JVM exit
normally, which is when it writes the archive.

A dynamic archive refuses a class path with a non-empty directory on it,
and Spark puts its conf directory there. The runs therefore point
``SPARK_CONF_DIR`` at an empty directory, but only when the real one
holds nothing but ``*.template`` files, so no setting is lost; otherwise
the runs go without an archive.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 600


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def use_empty_conf_dir(work: str) -> bool:
    """Point ``SPARK_CONF_DIR`` at an empty directory if that loses no
    setting; report whether the archive can be used."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "conf")
    if os.path.isdir(conf) and any(
            not f.endswith(".template") for f in os.listdir(conf)):
        return False
    empty = os.path.join(work, "conf")
    os.makedirs(empty, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = empty
    return True


def ensure_archive(work: str) -> str | None:
    """The archive's path, building it first if the checkout has none;
    None when the runs have to go without one."""
    if not use_empty_conf_dir(work):
        _log("Spark conf directory holds settings; running without CDS")
        return None
    path = os.path.join(work, "cds", "spark.jsa")
    failed = os.path.join(work, "cds", "FAILED")
    if os.path.exists(path):
        return path
    if os.path.exists(failed):  # tried once in this checkout: no retry
        return None
    os.makedirs(os.path.dirname(path), exist_ok=True)
    part = path + ".part"
    if os.path.exists(part):
        os.remove(part)
    t0 = time.perf_counter()
    # the build's stdout goes to stderr: the run's stdout ends with its
    # result line. Its own process group lets a timeout stop its JVM too.
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), part],
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        ok = proc.wait(timeout=BUILD_TIMEOUT_S) == 0 and os.path.exists(part)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        ok = False
    if not ok:
        _log("CDS build failed; this checkout runs without CDS")
        with open(failed, "w") as fh:
            fh.write("the class-data-sharing archive build failed\n")
        return None
    os.replace(part, path)
    _log(f"built CDS archive in {time.perf_counter() - t0:.1f}s")
    return path


def build(part: str) -> int:
    sys.path.insert(0, HERE)
    import run

    run.configure_env(run.ROOT, run.WORK)
    use_empty_conf_dir(run.WORK)
    import gen
    import workloads
    from checks import observed, observed_hash
    from pyspark import SparkContext

    from bigdata1_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench-cds",
        extra_conf=run.spark_conf(tmp, f"-XX:ArchiveClassesAtExit={part}"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        manifest = gen.ensure_inputs(
            spark, os.path.join(run.WORK, "inputs"), 0, 0.001, 1000)
        for name in workloads.WORKLOAD_KEYS:
            ctx = workloads.Ctx(spark, manifest, tmp)
            for call in workloads.build(name).calls:
                try:
                    df = call.run(ctx)
                    ctx.outputs[call.name] = df
                    if call.sink == "noop":
                        out, obs = observed(df)
                        out.toPandas()
                        observed_hash(obs)
                except Exception as exc:  # only the classes matter here
                    _log(f"CDS build: {call.name} failed: {exc!r:.200}")
    finally:
        spark.stop()
        # closing the gateway's stdin makes the JVM exit normally, which
        # is when it writes the archive; wait for that
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=BUILD_TIMEOUT_S)
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(build(sys.argv[1]))
