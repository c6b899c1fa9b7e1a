"""Split-sweep bench: per-block sentinel gates → merged full floor.

The box's recurring external bursts (~30-45 min cadence, documented
since GATE_r09.md) veto most MONOLITHIC full sweeps: one burst anywhere
in a ~40-minute window fails the whole sweep's gate, which is how three
wave-4 queries ended round 11 with no committed floor (GATE_r11 sweeps
3 and 5 refused).  VERDICT r11 #2 prescribes the fix implemented here —
split the registry into gate-checked BLOCKS, each short enough that a
burst costs one block, re-run only the refused blocks, and merge the
gate-passing records with tools/bench_merge.py (which refuses any
record whose sentinel gate failed, so provenance is per-block).

Usage:
    python tools/bench_blocks.py [--blocks N] [--retries R]
        [--out-dir DIR] [--merge-out BENCH_LAST.json] [--prev PREV]

Each block runs ``bench.py --only <queries...>`` in a fresh process
(fresh JVM; bench.py applies its pre-sweep sentinel gate with cooldown
retries AND its mid-sweep checkpoints to the subset).  Block records
land in --out-dir as block{i}.json; the merge step only runs when EVERY
block has a gate-passing record, so the merged BENCH_LAST is never
partial.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def run_block(queries: list[str], out_path: str) -> dict | None:
    """One bench.py --only run; returns the parsed full record (the
    first stdout JSON line) or None if the run crashed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py"), "--only", *queries],
        capture_output=True,
        text=True,
        cwd=HERE,
    )
    record = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                parsed = json.loads(line)
            except json.JSONDecodeError:
                continue
            # the FULL record carries queries_min; the trailing summary
            # line does not
            if "queries_min" in parsed:
                record = parsed
    if record is None:
        sys.stderr.write(proc.stderr[-2000:] + "\n")
        return None
    with open(out_path, "w") as f:
        json.dump(record, f)
    return record


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--blocks", type=int, default=6)
    ap.add_argument("--retries", type=int, default=2)
    ap.add_argument("--cooldown", type=float, default=90.0)
    ap.add_argument("--out-dir", default=os.path.join(HERE, ".tmp", "bench_blocks"))
    ap.add_argument("--merge-out", default=os.path.join(HERE, "BENCH_LAST.json"))
    ap.add_argument("--prev", default=None)
    ap.add_argument("--no-merge", action="store_true")
    ap.add_argument(
        "--resume",
        action="store_true",
        help="skip blocks whose existing block{i}.json already passed its "
        "gate (same --blocks split) — re-run only the refused ones",
    )
    args = ap.parse_args()

    from hdfs_stream_processing_spark import queries as Q

    names = list(Q.QUERIES)
    os.makedirs(args.out_dir, exist_ok=True)
    n = max(1, args.blocks)
    size = (len(names) + n - 1) // n
    blocks = [names[i : i + size] for i in range(0, len(names), size)]

    passing: list[str] = []
    failed: list[int] = []
    for i, qs in enumerate(blocks):
        out_path = os.path.join(args.out_dir, f"block{i}.json")
        if args.resume and os.path.exists(out_path):
            try:
                with open(out_path) as f:
                    rec = json.load(f)
            except json.JSONDecodeError:
                rec = None
            if (
                rec
                and rec.get("sentinel_gate") == "pass"
                and set(rec.get("queries", {})) == set(qs)
            ):
                print(json.dumps({"block": i, "resumed": True,
                                  "sum_medians": rec.get("value")}), flush=True)
                passing.append(out_path)
                continue
        ok = False
        for attempt in range(args.retries + 1):
            t0 = time.time()
            rec = run_block(qs, out_path)
            status = rec.get("sentinel_gate") if rec else "crash"
            print(
                json.dumps(
                    {
                        "block": i,
                        "attempt": attempt,
                        "n_queries": len(qs),
                        "gate": status,
                        "sum_medians": rec.get("value") if rec else None,
                        "wall_sec": round(time.time() - t0, 1),
                        "mid_max": rec.get("sentinel_mid_max") if rec else None,
                    }
                ),
                flush=True,
            )
            if rec and rec.get("sentinel_gate") == "pass":
                ok = True
                break
            if attempt < args.retries:  # no retry follows the last attempt
                time.sleep(args.cooldown)  # let the burst pass, then retry
        if ok:
            passing.append(out_path)
        else:
            failed.append(i)

    if failed:
        print(json.dumps({"failed_blocks": failed, "merged": False}), flush=True)
        return 1
    if args.no_merge:
        print(json.dumps({"passing": len(passing), "merged": False}), flush=True)
        return 0
    merge_cmd = [
        sys.executable,
        os.path.join(HERE, "tools", "bench_merge.py"),
        *passing,
        "--out",
        args.merge_out,
    ]
    if args.prev:
        merge_cmd += ["--prev", args.prev]
    return subprocess.run(merge_cmd, cwd=HERE).returncode


if __name__ == "__main__":
    raise SystemExit(main())
