"""tools/ab.py, the fresh-JVM A/B harness: one child JVM per arm, one JSON
line per arm, and a non-zero exit naming both arms when their values
differ."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from ab import parse_arms  # noqa: E402

KEY = "q1_pricing_summary"

_DROP_ONE = f'''
from kwery_spark.registry import QUERIES


def drop_one(spark, sf_dir):
    df = QUERIES["{KEY}"](spark, sf_dir)
    return df.limit(df.count() - 1)
'''


def _ab(sf_dir, *arms, env=None):
    return subprocess.run(
        [sys.executable, os.path.join(_ROOT, "tools", "ab.py"), "--sf", sf_dir,
         "--keys", KEY, *arms],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )


def _lines(proc):
    return [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]


def test_parse_arms():
    arms = parse_arms(
        ["base:", "alt:spark.a=1", "alt:spark.b=x=y", f"fn:{KEY}=m:f"], [KEY]
    )
    assert arms == {
        "base": {"confs": {}, "fns": {}},
        "alt": {"confs": {"spark.a": "1", "spark.b": "x=y"}, "fns": {}},
        "fn": {"confs": {}, "fns": {KEY: "m:f"}},
    }
    for bad in ("noname", ":spark.a=1", "a:spark.a", "a:other_key=m:f", f"a:{KEY}=mf"):
        with pytest.raises(ValueError):
            parse_arms([bad], [KEY])


def test_conf_arms_agree(sf_dir):
    proc = _ab(
        sf_dir, "on:spark.sql.adaptive.enabled=true", "off:spark.sql.adaptive.enabled=false"
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    on, off = _lines(proc)
    assert (on["arm"], off["arm"]) == ("on", "off")
    assert on["confs"] == {"spark.sql.adaptive.enabled": "true"}
    assert set(on["sec"]) == set(on["digest"]) == {KEY}
    assert on["sec"][KEY] > 0
    assert on["digest"] == off["digest"]


def test_function_arm_dropping_a_row_fails(sf_dir, tmp_path):
    (tmp_path / "ab_drop_one.py").write_text(_DROP_ONE)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(tmp_path), env.get("PYTHONPATH")]))
    proc = _ab(sf_dir, "base:", f"drop:{KEY}=ab_drop_one:drop_one", env=env)
    assert proc.returncode == 1, proc.stderr[-3000:]
    base, drop = _lines(proc)
    assert base["digest"][KEY] != drop["digest"][KEY]
    msg = [x for x in proc.stderr.splitlines() if x.startswith("values differ")]
    assert len(msg) == 1 and KEY in msg[0], proc.stderr[-3000:]
    assert "arm base" in msg[0] and "arm drop" in msg[0], msg
