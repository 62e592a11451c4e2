"""``tools/check_correctness.py`` reports a lost Spark JVM once: the sweep
stops, names the last gate that ran and the gates left to re-run, and
counts every gate it did not run as a failure."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "check_correctness.py",
)


@pytest.fixture(scope="module")
def cc():
    spec = importlib.util.spec_from_file_location("check_correctness", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_jvm_lost_follows_the_cause_chain(cc):
    from py4j.protocol import Py4JNetworkError

    assert cc._jvm_lost(ConnectionRefusedError(111, "Connection refused"))
    try:
        try:
            raise ConnectionRefusedError(111, "Connection refused")
        except ConnectionRefusedError as inner:
            raise Py4JNetworkError("gateway unreachable") from inner
    except Py4JNetworkError as outer:
        wrapped = RuntimeError("spark call failed")
        wrapped.__cause__ = outer
        assert cc._jvm_lost(wrapped)
    assert not cc._jvm_lost(ValueError("[DIVIDE_BY_ZERO] a gate bug"))


class _Frame:
    columns = ["x"]

    def collect(self):
        return [(1,)]


class _Spark:
    stopped = False

    def stop(self):
        self.stopped = True


def test_sweep_stops_at_a_lost_jvm(cc, sf_dir, tmp_path, monkeypatch, capsys):
    ran = []

    def ok(name):
        def fn(spark, sf):
            ran.append(name)
            return _Frame()

        return fn

    def lost(spark, sf):
        ran.append("g3")
        raise ConnectionRefusedError(111, "Connection refused")

    gates = {"g1": ok("g1"), "g2": ok("g2"), "g3": lost, "g4": ok("g4"), "g5": ok("g5")}

    class _Entry:
        @staticmethod
        def queries():
            return gates

        @staticmethod
        def oracle_sql():
            return {n: "SELECT 1 AS x" for n in gates}

    spark = _Spark()
    out = tmp_path / "run.json"
    monkeypatch.setattr(cc, "entrymod", _Entry)
    monkeypatch.setattr(cc, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(cc, "SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["check_correctness.py"])
    monkeypatch.setenv("CHECK_JSON_OUT", str(out))

    assert cc.main() == 1
    printed = capsys.readouterr().out
    assert ran == ["g1", "g2", "g3"]
    assert "JVM LOST at g3" in printed
    assert "last gate run: g2" in printed
    assert "check_correctness.py g3 g4 g5" in printed
    assert "3 failures: ['g3', 'g4', 'g5']" in printed
    assert not spark.stopped
    res = json.loads(out.read_text())
    assert res["n_failures"] == 3
    assert res["results"]["g2"]["hash_match"] is True
    for g in ("g3", "g4", "g5"):
        assert res["results"][g]["hash_match"] is False
        assert res["results"][g]["err"].startswith("not run: Spark JVM lost")


def test_artifact_is_named_after_the_sf_dir(cc):
    """A full sweep's default artifact is one file per sf dir, so an
    sf0.001 sweep cannot overwrite the sf0.01 evidence."""
    snaps = os.path.join(os.path.dirname(_TOOL), "correctness_snapshots")
    assert cc.artifact_path("/data/sf0.01") == os.path.join(
        snaps, "full_run_sf001.json"
    )
    assert cc.artifact_path("/data/sf0.001/") == os.path.join(
        snaps, "full_run_sf0001.json"
    )
    assert cc.artifact_path("sf1") == os.path.join(snaps, "full_run_sf1.json")
