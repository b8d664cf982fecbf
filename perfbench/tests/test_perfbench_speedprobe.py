"""The host-speed scale, and the probe's own session."""

import pytest

import datagen
import speedprobe
from speedprobe import SpeedProbe


def _probe(times):
    probe = SpeedProbe.__new__(SpeedProbe)
    probe.times = times
    return probe


def test_scale_is_reference_over_median_probe_total():
    probe = _probe({"python": [0.05, 0.07, 0.06], "jvm": [0.06, 0.06, 0.08], "spark": [0.09, 0.2, 0.1]})
    assert probe.totals() == pytest.approx([0.2, 0.33, 0.24])
    assert probe.scale() == pytest.approx(speedprobe.REF_S / 0.24)


def test_host_twice_as_slow_halves_the_scale():
    quiet = {"python": [0.05, 0.04], "jvm": [0.06, 0.07], "spark": [0.09, 0.08]}
    slow = {part: [2 * t for t in ts] for part, ts in quiet.items()}
    assert _probe(slow).scale() == pytest.approx(_probe(quiet).scale() / 2)


def test_probe_settings_stay_in_its_own_session(tmp_path):
    from dbt_fal_spark.session import get_spark

    datagen.generate(str(tmp_path), 1, 0.001)
    spark = get_spark("perfbench-tests", sf_dir=str(tmp_path), **{"spark.ui.showConsoleProgress": "false"})
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    probe = SpeedProbe(spark)
    probe.run(2)
    assert all(len(ts) == 2 for ts in probe.times.values())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        assert probe.session.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
