"""Table-management operators: MERGE upsert, table diff, SCD2 history
and parquet compaction."""


def test_merge_upsert_three_clauses(spark):
    """All MERGE clauses on a hand-checkable fixture: matched update,
    matched delete, not-matched insert, target-only pass-through, and
    source-only delete as a no-op."""
    import pyspark.sql.functions as F

    from consent_based_conversion_adjustments_spark.operators.merge import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, bal double",
    )
    source = spark.createDataFrame(
        [
            (2, 99.0, False),   # matched update
            (3, 0.0, True),     # matched delete
            (5, 55.0, False),   # insert
            (6, 0.0, True),     # source-only delete -> no-op
        ],
        "k long, bal double, del boolean",
    )
    got = {
        r["k"]: (r["name"], r["bal"])
        for r in merge_upsert(
            target, source, ["k"], delete_col="del"
        ).collect()
    }
    assert got == {
        1: ("a", 10.0),   # untouched
        2: ("b", 99.0),   # updated bal, kept name
        4: ("d", 40.0),   # untouched
        5: (None, 55.0),  # inserted; target-only col null
    }


def test_merge_upsert_idempotent_reapply(spark):
    """Re-applying the same CDC batch is a fixed point (upsert, not
    append): second merge leaves the table unchanged."""
    from consent_based_conversion_adjustments_spark.operators.merge import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, bal double"
    )
    source = spark.createDataFrame(
        [(i, 100.0 + i, i % 5 == 0) for i in range(0, 30, 2)],
        "k long, bal double, del boolean",
    )
    once = merge_upsert(target, source, ["k"], delete_col="del")
    twice = merge_upsert(once, source, ["k"], delete_col="del")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


def test_table_diff_classification(spark):
    """added / removed / changed / unchanged on a hand-checkable fixture,
    with NULL-safe column comparison in every direction."""
    from consent_based_conversion_adjustments_spark.operators.merge import (
        table_diff,
    )

    left = spark.createDataFrame(
        [
            (1, "a", 10.0),     # unchanged -> dropped
            (2, "b", 20.0),     # bal changes
            (3, "c", None),     # NULL -> value (changed)
            (4, "d", 40.0),     # removed
            (6, None, 60.0),    # NULL == NULL -> unchanged -> dropped
        ],
        "k long, name string, bal double",
    )
    right = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 99.0),
            (3, "c", 3.0),
            (5, "e", 50.0),     # added
            (6, None, 60.0),
        ],
        "k long, name string, bal double",
    )
    got = {
        r["k"]: (r["change_type"], r["n_changed"], r["changed_cols"])
        for r in table_diff(left, right, ["k"]).collect()
    }
    assert got == {
        2: ("changed", 1, "bal"),
        3: ("changed", 1, "bal"),
        4: ("removed", 0, ""),
        5: ("added", 0, ""),
    }


def test_table_diff_merge_roundtrip(spark):
    """Diffing a table against its merge_upsert image recovers exactly
    the CDC batch's effect: updates -> changed, deletes -> removed,
    inserts -> added."""
    from consent_based_conversion_adjustments_spark.operators.merge import (
        merge_upsert,
        table_diff,
    )

    target = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, bal double"
    )
    source = spark.createDataFrame(
        [(2, 99.0, False), (3, 0.0, True), (11, 1.0, False)],
        "k long, bal double, del boolean",
    )
    merged = merge_upsert(target, source, ["k"], delete_col="del")
    got = {
        r["k"]: r["change_type"]
        for r in table_diff(target, merged, ["k"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 11: "added"}


def test_scd2_history_change_points(spark):
    """Change-point compression + validity chaining: consecutive equal
    states collapse, valid_to chains to the next change, exactly one
    current version per key, and a same-timestamp tie resolves by the
    tiebreak column."""
    from datetime import datetime

    from consent_based_conversion_adjustments_spark.operators.merge import (
        scd2_history,
    )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    rows = [
        (1, t(1), "A", 10),
        (1, t(2), "A", 11),   # no change -> collapsed
        (1, t(3), "B", 12),
        (1, t(5), "A", 13),   # back to A -> NEW version (not merged)
        (2, t(1), "X", 20),
        (2, t(1), "Y", 21),   # same ts, higher tiebreak -> second
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, state string, event_id long"
    )
    hist = scd2_history(df, "user_id", "ts", "state", "event_id")
    got = sorted(
        (
            r["user_id"],
            r["version"],
            r["state"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
        )
        for r in hist.collect()
    )
    assert got == [
        (1, 1, "A", t(1), t(3), False),
        (1, 2, "B", t(3), t(5), False),
        (1, 3, "A", t(5), None, True),
        (2, 1, "X", t(1), t(1), False),
        (2, 2, "Y", t(1), None, True),
    ]
    # exactly one open version per key
    assert sum(1 for g in got if g[5]) == 2


class TestCompaction:
    def test_compaction_preserves_data_and_reduces_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from consent_based_conversion_adjustments_spark.sources.compaction import (
            compact_parquet,
            plan_compaction,
        )

        src, dst = str(tmp_path / "frag"), str(tmp_path / "tight")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev.repartition(64).write.parquet(src)  # fragment: 64 tiny files

        plan = plan_compaction(spark, src, target_mb=128)
        assert plan["n_files"] == 64
        assert plan["target_partitions"] == 1  # tiny table → one file

        result = compact_parquet(spark, src, dst, 128, layout_col="user_id")
        assert result["out_files"] == 1

        def checksum(path):
            df = spark.read.parquet(path)
            return df.agg(
                F.count(F.lit(1)),
                F.sum("event_id"),
                F.sum(F.hash("user_id", "event_type", "value")),
            ).collect()[0]

        assert checksum(src) == checksum(dst)

    def test_range_layout_clusters_the_column(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from consent_based_conversion_adjustments_spark.sources.compaction import (
            compact_parquet,
        )

        src, dst = str(tmp_path / "f2"), str(tmp_path / "t2")
        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        ev.repartition(97).write.parquet(src)
        # force multiple output files via a small target
        compact_parquet(spark, src, dst, target_mb=1, layout_col="user_id")
        # range layout → per-file user ranges are (nearly) disjoint:
        # every user appears in at most 2 files (boundary spill), vs the
        # fragmented source where hot users appear in dozens
        per_file = (
            spark.read.parquet(dst)
            .withColumn("f", F.input_file_name())
            .groupBy("user_id")
            .agg(F.countDistinct("f").alias("nf"))
            .agg(F.max("nf"))
            .collect()[0][0]
        )
        assert per_file <= 2
