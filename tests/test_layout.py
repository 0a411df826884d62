"""At-rest table layout: schema evolution across appended parquet
drops."""

from __future__ import annotations


def test_schema_evolution_merge_read(spark, tmp_path):
    # Appended drops may add columns; mergeSchema unifies old + new
    # footers and backfills NULL — the schema-evolution contract an
    # append-only lake table relies on.
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, x string, score double"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "x", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5
