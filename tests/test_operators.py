"""Custom distributed operators."""

from pyspark.sql import functions as F


class TestApproxDistinct:
    def test_approx_count_distinct_accuracy(self, spark):
        """HLL++ estimate within its configured relative error of the exact
        COUNT(DISTINCT) — keeps the approx-distinct operator verified now
        that its registry row's slot went to q_bpe_train (r7)."""
        from seafowl_spark.queries.relational import q_approx_distinct

        got = {
            r.event_type: (r.approx_users, r.n_events)
            for r in q_approx_distinct(spark, "/root/testdata/sf0.001").collect()
        }
        exact = {
            r.event_type: (r.exact_users, r.n_events)
            for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .groupBy("event_type")
            .agg(
                F.countDistinct("user_id").alias("exact_users"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .collect()
        }
        assert set(got) == set(exact)
        for et, (approx, n) in got.items():
            ex, n_ex = exact[et]
            assert n == n_ex
            # rsd=0.01 requested; allow 5x slack for small groups
            assert abs(approx - ex) <= max(0.05 * ex, 2), (et, approx, ex)
