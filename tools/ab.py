"""Fresh-JVM A/B harness: time registry keys under competing arms, one
JVM per arm, and check that every arm returns the same values.

Usage: python tools/ab.py [--sf DIR] [--prep] [--keys a,b] NAME:SPEC ...

Each NAME:SPEC adds one spec to arm NAME; repeat a NAME to give that arm
several specs. Arms run in the order they first appear.

  NAME:k=v             conf override (k is a dotted Spark conf name)
  NAME:KEY=module:fn   fn(spark, sf_dir) -> DataFrame stands in for the
                       registry key KEY (one of --keys)
  NAME:                no override: the session's own defaults

--sf DIR   corpus directory (default: the tools/check.py gate corpus)
--prep     run bench.py's _prep first (layout, ANALYZE, bucketing and the
           corpus-scaled confs); the arm's confs are applied after it
--keys     comma-separated registry keys (default: bench.py's HEADLINE)

Every arm runs in its own child process (this script re-invoked with
``sys.executable``), so no JIT warmth or session state leaks between
arms. The child puts the arm's confs on the session builder, runs
``bench._prep`` when asked and re-applies the confs, times each key with
``bench._measure_spark`` (its protocol: 1 warm-up + best of 3, plan
rebuilt per run, ``toPandas``; q1/q3/q5 get one extra post-pass sample),
then runs each key once more and hashes its values with
tools/check.py's ``pandas_rows``/``norm_rows``.

The parent prints one JSON line per arm:
  {"arm": NAME, "confs": {k: v}, "sec": {key: s}, "digest": {key: hex}}
It exits 1 when an arm's digest differs from the first arm's on any key
(naming both arms and the key), 2 when an arm fails to run.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from check import DEFAULT_SF_DIR, norm_rows, pandas_rows  # noqa: E402


def parse_arms(specs: list[str], keys: list[str]) -> dict[str, dict]:
    """``NAME:SPEC`` arguments -> {name: {"confs": {...}, "fns": {...}}}."""
    arms: dict[str, dict] = {}
    for spec in specs:
        name, sep, body = spec.partition(":")
        if not sep or not name:
            raise ValueError(f"arm {spec!r} is not NAME:SPEC")
        arm = arms.setdefault(name, {"confs": {}, "fns": {}})
        if not body:
            continue
        lhs, eq, rhs = body.partition("=")
        if not eq:
            raise ValueError(f"arm {spec!r}: SPEC is not k=v or KEY=module:fn")
        if "." in lhs:
            arm["confs"][lhs] = rhs
        elif lhs in keys and rhs.count(":") == 1:
            arm["fns"][lhs] = rhs
        else:
            raise ValueError(
                f"arm {spec!r}: {lhs!r} is neither a dotted conf name nor a "
                f"--keys key given as KEY=module:fn"
            )
    return arms


def digest(df) -> str:
    """Order-insensitive value hash: column names plus the normalized
    rows the oracle check compares."""
    rows = norm_rows(df.columns, pandas_rows(df.toPandas()))
    return hashlib.sha256(repr((sorted(df.columns), rows)).encode()).hexdigest()[:16]


def run_arm(sf_dir: str, prep: bool, keys: list[str], confs: dict, fns: dict) -> dict:
    """Child side: one fresh session, the arm applied, every key timed and
    hashed."""
    from kwery_spark.session import builder

    b = builder("kwery-ab")
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if prep:
        bench._prep(spark, sf_dir)
        for k, v in confs.items():
            if spark.conf.isModifiable(k):
                spark.conf.set(k, v)
    queries = dict(bench.entrymod.queries())
    missing = [k for k in keys if k not in queries]
    if missing:
        raise SystemExit(f"unknown keys: {missing}")
    for key, ref in fns.items():
        mod, fn = ref.split(":")
        queries[key] = getattr(importlib.import_module(mod), fn)
    sec = bench._measure_spark(spark, queries, sf_dir, keys=keys)
    return {"sec": sec, "digest": {k: digest(queries[k](spark, sf_dir)) for k in keys}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--prep", action="store_true")
    ap.add_argument("--keys", default=",".join(bench.HEADLINE))
    ap.add_argument("arms", nargs="+", metavar="NAME:SPEC")
    args = ap.parse_args(argv)
    keys = args.keys.split(",")
    try:
        arms = parse_arms(args.arms, keys)
    except ValueError as e:
        ap.error(str(e))
    lines = []
    for name, arm in arms.items():
        job = dict(sf_dir=os.path.abspath(args.sf), prep=args.prep, keys=keys, **arm)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", json.dumps(job)],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"arm {name} failed (exit {proc.returncode})", file=sys.stderr)
            return 2
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        line = {"arm": name, "confs": arm["confs"], **out}
        print(json.dumps(line), flush=True)
        lines.append(line)
    base = lines[0]
    differ = [
        (key, line)
        for line in lines[1:]
        for key in keys
        if line["digest"][key] != base["digest"][key]
    ]
    for key, line in differ:
        print(
            f"values differ on {key}: arm {base['arm']} {base['digest'][key]} "
            f"!= arm {line['arm']} {line['digest'][key]}",
            file=sys.stderr,
        )
    return 1 if differ else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        print(json.dumps(run_arm(**json.loads(sys.argv[2]))))
        sys.exit(0)
    sys.exit(main())
