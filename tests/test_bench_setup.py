"""bench.py's fixture setup: a failing setup step is named on stderr and
returned for the snapshot, and the steps after it still run (each is
attempted on its own, like the warmup loop)."""

from __future__ import annotations

import importlib.util
import os

from data_engineering_spotify_etl_airflow_aws_spark.operators import (
    extras,
    maintenance,
)
from data_engineering_spotify_etl_airflow_aws_spark.streaming import (
    chunks,
    dedup,
    joins,
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SETUP_STEPS = (
    (chunks, "plain_event_feed"),
    (dedup, "dup_event_feed"),
    (joins, "outer_event_feed"),
    (extras, "ensure_bucketed_join_tables"),
    (extras, "ensure_day_partitioned_events"),
    (extras, "ensure_range_clustered_events"),
    (extras, "ensure_schema_evolution_snapshots"),
    (extras, "ensure_zorder_clustered_events"),
    (extras, "ensure_orc_events"),
    (maintenance, "ensure_fragmented_events"),
)


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(_ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_failing_fixture_setup_is_reported_and_rest_still_run(
    monkeypatch, capsys
):
    bench = _load_bench()
    ran: list[str] = []
    failing = "ensure_day_partitioned_events"

    def stub(name):
        def build(spark, sf_dir):
            ran.append(name)
            if name == failing:
                raise OSError("disk full")

        build.__name__ = name
        return build

    for mod, name in _SETUP_STEPS:
        monkeypatch.setattr(mod, name, stub(name))

    failed = bench.setup_fixtures(None, "/nonexistent/sf0.1")

    assert ran == [name for _, name in _SETUP_STEPS]
    assert failed == {failing: "OSError: disk full"}
    err = capsys.readouterr().err
    assert f"fixture setup {failing} failed (OSError: disk full)" in err
    assert "1 fixture setups failed" in err


def test_clean_fixture_setup_reports_nothing(monkeypatch, capsys):
    bench = _load_bench()
    for mod, name in _SETUP_STEPS:
        monkeypatch.setattr(mod, name, lambda spark, sf_dir: None)
    assert bench.setup_fixtures(None, "/nonexistent/sf0.1") == {}
    assert capsys.readouterr().err == ""
