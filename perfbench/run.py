"""Benchmark of the engine: one workload, one run.

    python3 perfbench/run.py --workload query|stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench_work/`` (removed when the run ends), starts the
measuring process (``worker.py``) fresh on ``local[<usable cores>]``,
checks every output, and prints each metric with its unit. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Spans of a traced run are written to
``.perfbench_out/``. Exits non-zero, printing no result, when the engine
is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads as wl  # noqa: E402

# a run must end within 180 s; leave room for teardown
DEADLINE_S = 165.0


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def _prepare(args, root: str, work: str) -> dict:
    """Generate the inputs and write the worker's spec."""
    data_dir = os.path.join(work, "data")
    spec = {"seed": args.seed, "trace": args.trace, "root": root,
            "data_dir": data_dir,
            "rounds": wl.rounds_for(args.workload, args.seconds),
            "evlog_dir": os.path.join(work, "evlog"),
            "result_path": os.path.join(work, "result.json"),
            "target": os.path.join(work, "target")}
    rows = gen.write_tables(data_dir, args.seed, wl.SF)
    mix = wl.QUERY_MIX if args.workload == "query" else wl.STREAM_MIX
    spec["ops"] = list(mix)
    spec["rows_per_op"] = {op: sum(rows[t] for t in tables)
                           for op, tables in mix.items()}
    if args.workload == "query":
        spec["months"] = gen.write_taxi_months(
            os.path.join(work, "taxi"), args.seed, list(wl.INGEST_MONTHS),
            wl.ROWS_PER_MONTH)
        for month in wl.INGEST_MONTHS:
            spec["rows_per_op"][wl.INGEST_PREFIX + month] = wl.ROWS_PER_MONTH
    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spec["trace_path"] = os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json")
    return spec


def _env(root: str, work: str, seed: int) -> dict:
    """The measuring process's environment: engine importable by the
    JVM's Python workers, every temp and scratch path inside ``work``,
    and no inherited engine knob (the default posture is measured)."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    dirs = {}
    for name in ("tmp", "spark-local", "ckpt", "scratch", "cwd", "evlog"):
        dirs[name] = os.path.join(work, name)
        os.makedirs(dirs[name], exist_ok=True)
    env.update({
        "PYTHONPATH": root,
        "PYTHONHASHSEED": str(seed),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_REPLAY_CKPT_DIR": dirs["ckpt"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} "
                             "-XX:-UsePerfData",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _spawn(spec: dict, env: dict, deadline: float) -> int:
    """Run the worker in its own process group; afterwards make sure
    every process of the group (JVM, Python workers) has ended."""
    spec_path = os.path.join(os.path.dirname(spec["result_path"]),
                             "spec.json")
    spec["spawn_time"] = time.time()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
        cwd=os.path.join(os.path.dirname(spec_path), "cwd"), env=env,
        stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        end = time.time() + 10
        while _group_alive(proc.pid) and time.time() < end:
            time.sleep(0.1)
    if code is None:
        print(f"run exceeded {DEADLINE_S:.0f} s; stopped", file=sys.stderr)
        return 3
    return code


def _report(args, spec: dict, result: dict) -> dict:
    records = result["records"]
    # a traced run also ran an untraced copy of every op; count both
    attempted = records + result.get("plain_records", [])
    failed_keys = set(result["failed_keys"])
    failed = sum(1 for r in attempted
                 if not r["ok"] or r["op"] in failed_keys)
    for err in result["errors"]:
        print(f"# error: {err}", file=sys.stderr)
    rows = spec["rows_per_op"]
    if args.trace:
        values = metrics.per_layer(result, rows)
        units = metrics.PER_LAYER_UNITS
        layers = result["layers"]
        print(f"# traced ops: {len(records)}; spans per layer: "
              + ", ".join(f"{k}={int(v['n'])}"
                          for k, v in sorted(layers.items())))
        print(f"# streaming progress events: {len(result['progress'])}; "
              f"event-log groups: {len(result['evlog'])}")
    else:
        values = metrics.end_to_end(result, rows)
        units = metrics.END_TO_END_UNITS
        walls = [r["wall_s"] for r in records if r["ok"]]
        _v, pct = metrics.tail(walls)
        print(f"# op_tail_s is p{pct:.1f} of {len(walls)} ops; "
              f"drift (last/first quarter, per-key normalized) "
              f"{metrics.drift(records):.3f}; host CPU stolen during "
              f"timed ops {100 * result['info']['steal_share']:.1f}%")
    by_op: dict[str, list[str]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(
            f"{r['wall_s']:.3f}" if r["ok"] else "failed")
    for op, walls in by_op.items():
        print(f"# {op} wall_s: {' '.join(walls)}")
    info = result["info"]
    print(f"# workload {args.workload}, seed {args.seed}, "
          f"local[{info.get('cpus')}], {spec['rounds']} rounds of "
          f"{len(spec['ops'])} ops, {failed}/{len(attempted)} ops failed; "
          f"session start {info['session_start_s']:.2f} s, warm pass "
          f"{info['warmup_s']:.2f} s")
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    return {"correct": failed == 0, "attempted": len(attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in values.items()}}


def main() -> int:
    args = _args()
    t0 = time.time()
    root = os.getcwd()
    need = (os.path.join(wl.PACKAGE, "__init__.py"),
            os.path.join("scripts", "canon.py"))
    missing = [p for p in need if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"not a checkout of the engine (missing {missing}); run from "
              "the repository root", file=sys.stderr)
        return 2
    work_root = os.path.join(root, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        spec = _prepare(args, root, work)
        env = _env(root, work, args.seed)
        code = _spawn(spec, env, t0 + DEADLINE_S)
        if code != 0:
            print(f"measuring process exited with {code}", file=sys.stderr)
            return code or 1
        with open(spec["result_path"]) as fh:
            result = json.load(fh)
        if not result.get("records"):
            for err in result["errors"]:
                print(f"# error: {err}", file=sys.stderr)
            return 1
        line = _report(args, spec, result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
