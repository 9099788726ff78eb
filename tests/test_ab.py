"""tools/ab.py, the within-session A/B harness: the value-identity check
holds on equal arms, fires on a dropped row and does not overflow."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from ab import ValuesDiverged, ab  # noqa: E402

SHUFFLE = "spark.sql.shuffle.partitions"


def test_conf_arms_that_cannot_change_values_agree(spark, sf_dir):
    before = spark.conf.get(SHUFFLE)
    arms = {"p2": {SHUFFLE: "2"}, "p4": {SHUFFLE: "4"}}
    out = ab(spark, sf_dir, ["q01_pricing_summary"], arms, pairs=2)

    q = out["queries"]["q01_pricing_summary"]
    assert q["order"] == ["p2", "p4", "p4", "p2"]
    p2, p4 = q["arms"]["p2"], q["arms"]["p4"]
    assert p2["checksum"] == p4["checksum"] and p2["checksum"]["rows"] > 0
    for arm in (p2, p4):
        assert arm["jobs"] > 0 and arm["stages"] > 0 and arm["tasks"] > 0
        assert len(arm["times_s"]) == 2 and arm["median_s"] > 0
        assert arm["warmup_s"] > 0  # still recorded after the untimed settle round
    assert set(out["canary_q01_sec"]) == {"start", "end"}
    assert spark.conf.get(SHUFFLE) == before  # restored


def test_static_conf_arm_is_rejected(spark, sf_dir):
    arms = {"a": {}, "b": {"spark.sql.warehouse.dir": "/elsewhere"}}
    with pytest.raises(ValueError, match="not a runtime SQL conf"):
        ab(spark, sf_dir, ["q01_pricing_summary"], arms, pairs=1)


def test_dropped_row_raises(spark, sf_dir):
    arms = {
        "all": lambda s, _: s.range(100),
        "short": lambda s, _: s.range(100).filter("id != 42"),
    }
    with pytest.raises(ValuesDiverged):
        ab(spark, sf_dir, ["range100"], arms, pairs=1)


def test_checksum_does_not_overflow(spark, sf_dir):
    def rng(s, _):
        return s.range(1000)

    # the premise: under the pinned ANSI mode a LONG sum of the hashes raises
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.range(1000).select(F.sum(F.xxhash64("id"))).collect()
    out = ab(spark, sf_dir, ["range1000"], {"a": rng, "b": rng}, pairs=1)
    arms = out["queries"]["range1000"]["arms"]
    assert arms["a"]["checksum"] == arms["b"]["checksum"]
    assert arms["a"]["checksum"]["rows"] == 1000
