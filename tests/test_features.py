"""Feature-layer tests: Categorify property tests (SURVEY §5.5 —
bijectivity, OOV->0, refit stability).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_recs.features import Categorify, CategorifyModel


def test_categorify_bijective_on_seen(spark):
    df = spark.createDataFrame([("x",), ("y",), ("z",), ("x",)], "c string")
    model = Categorify(["c"]).fit(df)
    out = model.transform(df)
    codes = {r.c: r.c_code for r in out.collect()}
    assert sorted(codes.values()) == [1, 2, 3]
    assert len(set(codes.values())) == 3  # injective over seen values
    # inverse mapping round-trips
    inv = {r.code: r.c for r in model.inverse("c").collect()}
    assert all(inv[codes[v]] == v for v in codes)


def test_categorify_oov_and_null_zero(spark):
    fit_df = spark.createDataFrame([("x",), ("y",)], "c string")
    model = Categorify(["c"]).fit(fit_df)
    apply_df = spark.createDataFrame([("x",), ("unseen",), (None,)], "c string")
    got = {r.c: r.c_code for r in model.transform(apply_df).collect()}
    assert got["x"] >= 1
    assert got["unseen"] == 0
    assert got[None] == 0


def test_categorify_refit_stability(spark):
    df = spark.createDataFrame([(v,) for v in "dcba"], "c string")
    m1 = Categorify(["c"]).fit(df)
    m2 = Categorify(["c"]).fit(df.orderBy(F.rand(7)))  # different order
    d1 = {r.value: r.code for r in m1.dictionaries["c"].collect()}
    d2 = {r.value: r.code for r in m2.dictionaries["c"].collect()}
    assert d1 == d2 == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_categorify_save_load_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("x",), ("y",)], "c string")
    model = Categorify(["c"]).fit(df)
    model.save(str(tmp_path))
    loaded = CategorifyModel.load(spark, str(tmp_path), ["c"])
    got = {r.c: r.c_code for r in loaded.transform(df).collect()}
    assert got == {r.c: r.c_code for r in model.transform(df).collect()}
