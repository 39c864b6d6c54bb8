#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sql-tail --seed 1 --seconds 15 --trace 0

Builds the inputs once per checkout (``gen.py``, then the DuckDB oracle
cache), pins and isolates the environment, runs one fresh measuring
process (``harness.py``) and prints a human summary followed, as the
last stdout line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.

Everything it writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402

CHILD_TIMEOUT_S = 150
DRIVER_MEM = "4g"


def _require_program() -> None:
    """The benchmark measures the repo it sits in; without it, fail."""
    for rel in ("etl_spark_eks_spark/__init__.py", "etl_spark_eks_spark/session.py",
                "tests/compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}; "
                             "run from a checkout of the repository")


def _build_inputs() -> tuple[str, str]:
    """Generate the tables, then every workload key's DuckDB oracle
    result, once per generator version. The first run in a checkout pays
    for both (``q_c16``'s oracle alone takes ~60 s), no later run does."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    base = os.path.join(WORK, "inputs", version)
    data_dir = os.path.join(base, "sf0.1")
    oracle_dir = os.path.join(base, "oracle")
    marker = os.path.join(base, "DONE")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        import gen
        import oracle
        from etl_spark_eks_spark import registry
        from etl_spark_eks_spark.catalog import TABLES

        gen.write_tables(data_dir)
        registry.load_all()
        keys = [k for wl in workloads.WORKLOADS.values() for k in wl["keys"]]
        oracle.load_cache(data_dir, oracle_dir, TABLES, registry.ORACLES, keys)
        open(marker, "w").close()
    return data_dir, oracle_dir


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env(data_dir: str, tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SF_DIR": data_dir,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        # The launcher JVM of spark-submit; the driver JVM gets the same
        # options in harness.py. Without them both write to /tmp.
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONHASHSEED": "0",
    })
    return env


def _group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(name))
    return pids


def _reap(pgid: int, grace: float = 10.0) -> None:
    """Wait for every process of the child's group (JVM, Python workers)
    to end, killing what is left after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while _group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_members(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10.0
        while _group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def _spawn(args: list[str], env: dict, cwd: str, log) -> dict:
    """Run one harness process in its own process group; its result JSON."""
    out = os.path.join(cwd, f"result-{time.monotonic_ns()}.json")
    env = dict(env, PERFBENCH_T0=repr(time.monotonic()))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), *args, "--out", out],
        env=env, cwd=cwd, stdout=log, stderr=log, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _reap(proc.pid)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness {' '.join(args[:2])} exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def _fmt(value: float) -> str:
    return f"{value:.4g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_program()

    t_build = time.monotonic()
    data_dir, oracle_dir = _build_inputs()
    build_s = time.monotonic() - t_build

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = _env(data_dir, tmp)
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--data-dir", data_dir,
              "--oracle-dir", oracle_dir]
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        res = _spawn([*common, "--trace", str(args.trace)], env, run_dir, log)
    shutil.rmtree(tmp, ignore_errors=True)
    if args.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(res["spans"], fh)

    e2e = res["e2e"]
    wl = workloads.WORKLOADS[args.workload]
    print(f"workload {args.workload} seed {args.seed}: {len(wl['keys'])} keys, "
          f"local[{_cores()}], 1 cold + {e2e['_warm_passes']} warm passes"
          f"{f', inputs built in {build_s:.1f} s' if build_s > 1 else ''}")
    if args.trace:
        metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                   for m in workloads.PER_LAYER}
        _print_layers(res, metrics)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in workloads.END_TO_END}
        _print_e2e(e2e, res["setup"], metrics)
    failed_keys = sorted(set(res["raised"]) | set(res["oracle_mismatch"]))
    print(f"error_rate {res['failed']}/{res['attempted']} executions"
          f" = {res['failed'] / res['attempted']:.4g}"
          f"; oracle-checked {len(wl['keys'])} keys, failing: {failed_keys or 'none'}")
    for key in failed_keys:
        print(f"  {key}: {res['raised'].get(key) or res['oracle_mismatch'][key]}")
    print(f"run: timed {res['phases']['timed_s']:.1f} s, oracle check "
          f"{res['phases']['check_s']:.1f} s, whole run {time.monotonic() - t_build:.1f} s; "
          f"spans and logs: {os.path.relpath(run_dir, ROOT)}")
    sys.stdout.flush()
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


def _print_e2e(e2e: dict, setup: dict, metrics: dict) -> None:
    notes = {
        "setup_s": "imports {imports_s:.3g} + get_spark {get_spark_s:.3g} + "
                   "register_views {register_views_s:.3g} + worker warm-up "
                   "{warm_workers_s:.3g}".format(**setup),
        "cold_pass_s": "first pass after set-up, 1 sample",
        "best_pass_s": f"sum of each key's fastest of {e2e['_warm_passes']} warm runs",
    }
    for name, m in metrics.items():
        print(f"  {name:<12} {_fmt(m['value']):>8} {m['unit']} ({notes[name]})")
    print(f"  unbounded: median warm pass {_fmt(e2e['_pass_median_s'])} s; "
          f"query p50 {_fmt(e2e['_query_p50_s'])} s of {e2e['_query_samples']} "
          f"warm samples; peak RSS {e2e['_peak_rss_mb']:.0f} MB")
    tail = e2e["_tail"]
    if tail:
        print(f"  query tail: p{tail['q'] * 100:g} = {_fmt(tail['value'])} s of "
              f"{tail['n']} samples (the highest percentile with >= 10 beyond it)")


def _print_layers(res: dict, metrics: dict) -> None:
    for name, m in metrics.items():
        print(f"  {name:<28} {_fmt(m['value']):>12} {m['unit']}")
    lay, e2e = res["layers"], res["e2e"]
    wall = lay["operators.build_s"] + lay["materialize.s"]
    if wall > 0:
        print(f"  warm pass {_fmt(e2e['_pass_median_s'])} s (median), query time "
              f"{_fmt(wall)} s: "
              f"build {lay['operators.build_s'] / wall:.0%}, "
              f"materialize {lay['materialize.s'] / wall:.0%}; "
              f"no job running (driver gap) {lay['spark.driver_gap_s'] / wall:.0%}, "
              f"executor busy {lay['executor.busy_frac']:.0%} of "
              f"{res['setup']['cores']} cores")


if __name__ == "__main__":
    sys.exit(main())
