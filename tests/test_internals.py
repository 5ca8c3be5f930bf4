"""Focused tests for optimization internals (round 15)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from rental_engine.queries import (_exact_quantiles, _locate, _price,
                                   _price_cutoffs, load)
from tests.conftest import SF_MED, SF_SMALL


def naive_rank_values(df, col, ks):
    ranked = df.withColumn("rn", F.row_number().over(Window.orderBy(col)))
    rows = ranked.where(F.col("rn").isin(ks)).select("rn", col).collect()
    return {r["rn"]: r[col] for r in rows}


def exact_ranks(df, col, ks, n):
    """Values at the 1-based ranks ``ks`` of df[col] (n rows), through
    the cutoff search: the quantile k/n resolves to rank ceil(k*n/n) = k."""
    return dict(zip(ks, _exact_quantiles(df, col, [(k, n) for k in ks])))


def job_count(spark, group, fn):
    """Run fn() under its own job group; return (result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_locate_walks_counts_without_spark():
    """The rank locator is pure Python: bin boundaries, duplicate ranks
    and its two named errors, with no Spark session."""
    import pytest
    counts = {7: 3, -2: 2, 40: 1}          # value order: -2, 7, 40
    assert _locate(counts, [2, 3, 5, 6]) == {
        2: (-2, 2),                         # last row of a bin (k == cum)
        3: (7, 1),                          # first row of the next bin
        5: (7, 3), 6: (40, 1)}
    assert _locate(counts, [4, 4, 1]) == {4: (7, 2), 1: (-2, 1)}
    with pytest.raises(ValueError, match="positive, non-NULL"):
        _locate({None: 1, 3: 2}, [1])
    with pytest.raises(ValueError, match=r"rank 1 out of range 1\.\.0 \(0 rows\)"):
        _locate({}, [1])
    with pytest.raises(ValueError, match=r"rank 7 out of range 1\.\.6 \(6 rows\)"):
        _locate(counts, [7])


def test_exact_ranks_matches_global_sort(spark):
    for sf in (SF_SMALL, SF_MED):
        li = load(spark, sf, "lineitem").select(_price().alias("price"))
        n = li.count()
        ks = sorted({1, 2, (n + 19) // 20, n // 2, (19 * n + 19) // 20, n})
        got = exact_ranks(li, "price", ks, n)
        want = naive_rank_values(li, "price", ks)
        assert got == want, f"{sf}: {got} != {want}"


def test_price_cutoffs_match_naive(spark):
    from rental_engine.queries import _Ctx
    li = load(spark, SF_MED, "lineitem").select(_price().alias("price"))
    n = li.count()
    want = naive_rank_values(li, "price", [(n + 19) // 20, (19 * n + 19) // 20])
    lo, hi = _price_cutoffs(_Ctx(spark, SF_MED))
    assert (lo, hi) == (want[(n + 19) // 20], want[(19 * n + 19) // 20])


def test_declared_schemas_match_footers(spark):
    """The explicit reader schemas (which skip per-read footer
    inference) must stay identical to the actual parquet footers at
    EVERY scale factor the driver uses (a renamed column would
    otherwise silently read as NULL at the unchecked SFs)."""
    from rental_engine.queries import _SCHEMAS, TABLES
    from pyspark.sql import types as T
    for sf in (SF_SMALL, SF_MED, "/root/testdata/sf0.1"):
        for name in TABLES:
            inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
            declared = T.StructType.fromDDL(_SCHEMAS[name])
            assert declared == inferred, (sf, name)


def test_exact_ranks_constant_column(spark):
    """All-equal values put every rank in one bin above the collect
    limit; the per-bin sort on the cluster must still be exact."""
    df = spark.range(40000).selectExpr("CAST(7.5 AS DOUBLE) AS v")
    got = exact_ranks(df, "v", [1, 20000, 40000], 40000)
    assert got == {1: 7.5, 20000: 7.5, 40000: 7.5}


def test_exact_ranks_dense_bin(spark):
    """More rows than the collect limit inside one bin: values designed
    to stay in one log bin (all within a factor of 1/512 in log
    space) are ranked by the per-bin sort on the cluster."""
    # spread 5e-5 in ln-space => a single bin of 50000 rows
    # (> _COLLECT_LIMIT)
    df = spark.range(50000).selectExpr("1000.0 + id * 1e-6 AS v")
    ks = [1, 25000, 50000]
    got = exact_ranks(df, "v", ks, 50000)
    want = {1: 1000.0, 25000: 1000.0 + 24999 * 1e-6, 50000: 1000.0 + 49999 * 1e-6}
    assert got == want


def test_oversized_bins_resolve_in_one_job(spark):
    """Three tight clusters of 40000 rows (near 10, 100 and 1000) each
    fill one log bin above the collect limit; ranks in all three bins
    are sorted together, so three bins run no more jobs than one."""
    df = spark.range(120000).selectExpr(
        "CASE id DIV 40000 WHEN 0 THEN 10D WHEN 1 THEN 100D ELSE 1000D END"
        " + (id % 40000) * 1e-9 AS v")
    one, one_jobs = job_count(
        spark, "oversized-one", lambda: _exact_quantiles(df, "v", [(1, 6)]))
    three, three_jobs = job_count(
        spark, "oversized-three",
        lambda: _exact_quantiles(df, "v", [(1, 6), (3, 6), (5, 6)]))
    assert one == [10.0 + 19999 * 1e-9]
    assert three == [10.0 + 19999 * 1e-9, 100.0 + 19999 * 1e-9,
                     1000.0 + 19999 * 1e-9]
    assert 0 < three_jobs <= one_jobs, (three_jobs, one_jobs)


def naive_median_counts(df, keys):
    w_rank = Window.partitionBy(*keys).orderBy("price_per_unit")
    w_all = Window.partitionBy(*keys)
    return (df.select(*keys, "price_per_unit")
              .withColumn("rn", F.row_number().over(w_rank))
              .withColumn("cnt", F.count(F.lit(1)).over(w_all))
              .where(F.expr("rn = (cnt + 1) DIV 2"))
              .select(*keys, F.col("cnt").alias("n_listings"),
                      F.col("price_per_unit").alias("median_ppu")))


def identity_dims(monkeypatch):
    """Make _grouped_median read its key columns straight from the
    synthetic input instead of joining the dimension tables."""
    import rental_engine.queries as Q
    monkeypatch.setattr(Q, "_dims", lambda ctx, df, need, small_fact=False: df)


def test_grouped_median_matches_window(spark, monkeypatch):
    """The grouped binned rank search must reproduce the per-group
    row_number median bit-for-bit, on real data (restricted to the
    top 20 cities, ordered as the oracle orders them) and on a
    synthetic set with duplicate values and odd/even group sizes."""
    from rental_engine.queries import (_Ctx, _cleaned_lineitem, _dims,
                                       _grouped_median)
    for sf in (SF_SMALL, SF_MED):
        ctx = _Ctx(spark, sf)
        cleaned = _cleaned_lineitem(ctx)
        cl = _dims(ctx, cleaned, {"city", "district"})
        top = (cl.groupBy("city").count()
                 .orderBy(F.desc("count"), F.asc_nulls_last("city")).limit(20)
                 .select("city"))
        for keys in (["city"], ["city", "district"]):
            got = sorted(map(tuple, _grouped_median(ctx, cleaned, keys).collect()))
            want = sorted(map(tuple, naive_median_counts(cl, keys)
                              .join(top, "city").select(*keys, "n_listings",
                                                        "median_ppu").collect()))
            assert got == want, f"{sf} {keys}"
    # synthetic: duplicates, ties at the median, even/odd sizes
    identity_dims(monkeypatch)
    syn = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0), ("a", 7.5),       # even, tie at median
         ("b", 3.0),                                            # singleton
         ("c", 5.0), ("c", 5.0), ("c", 5.0), ("c", 9.0), ("c", 0.5)],
        ["city", "price_per_unit"])
    got = sorted(map(tuple, _grouped_median(
        _Ctx(spark, SF_SMALL), syn, ["city"]).collect()))
    want = sorted(map(tuple, naive_median_counts(syn, ["city"]).collect()))
    assert got == want and got == [("a", 4, 1.0), ("b", 1, 3.0), ("c", 5, 5.0)]


def test_top_cities_follow_oracle_order(spark, monkeypatch):
    """The top-20 city rule is the oracle's ORDER BY n_listings DESC,
    city LIMIT 20: a count tie goes to the smaller name, a NULL city
    sorts last among its count and, when it reaches the top 20, takes
    its place and is dropped."""
    from rental_engine.queries import _Ctx, _grouped_median
    identity_dims(monkeypatch)
    cities = [f"c{i:02d}" for i in range(19)]
    base = [(c, float(v)) for c in cities for v in range(1, 6)]
    ties = [(c, float(v)) for c in ("tie_b", "tie_a") for v in range(1, 4)]

    def top(null_rows):
        syn = spark.createDataFrame(
            base + ties + [(None, 1.0)] * null_rows,
            "city string, price_per_unit double")
        return sorted(map(tuple, _grouped_median(
            _Ctx(spark, SF_SMALL), syn, ["city"]).collect()))

    kept = [(c, 5, 3.0) for c in cities]
    assert top(3) == kept + [("tie_a", 3, 2.0)]
    assert top(4) == kept


def test_grouped_median_plans_have_no_single_partition(spark):
    """Both median queries pick their top 20 cities on the driver: the
    plan keeps only the per-group median window, with no global sort,
    limit or rank window over the aggregated groups."""
    from rental_engine.queries import city_stats, district_stats

    def plan(q):
        return q(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()

    district, city = plan(district_stats), plan(city_stats)
    assert district.count("Window [") == 1, district
    assert "SinglePartition" not in district, district
    assert "TakeOrderedAndProject" not in city, city
    assert "SinglePartition" not in city, city


def test_grouped_median_dense_cell_path(spark, monkeypatch):
    """A (group, bin) cell holding a whole group is ranked by the pull
    pass's per-group sort and gives the window answer; three such
    cells run no more jobs than one."""
    from rental_engine.queries import _Ctx, _grouped_median
    identity_dims(monkeypatch)

    def median(syn, group):
        return job_count(spark, group, lambda: sorted(map(tuple, _grouped_median(
            _Ctx(spark, SF_SMALL), syn, ["city"]).collect())))

    syn = (spark.range(3001)
           .selectExpr("CASE WHEN id < 3000 THEN 'dense' ELSE 'tiny' END AS city",
                       "CASE WHEN id < 3000 THEN 5.0 + (id % 3) * 1e-9 "
                       "ELSE 42.0 END AS price_per_unit"))
    got, one_jobs = median(syn, "dense-one")
    want = sorted(map(tuple, naive_median_counts(syn, ["city"]).collect()))
    assert got == want
    assert got == [("dense", 3000, 5.0 + 1e-9), ("tiny", 1, 42.0)]

    syn3 = (spark.range(9001)
            .selectExpr("CASE WHEN id < 9000 THEN concat('dense', id DIV 3000) "
                        "ELSE 'tiny' END AS city",
                        "CASE WHEN id < 9000 THEN 5.0 * (1 + id DIV 3000) "
                        "+ (id % 3) * 1e-9 ELSE 42.0 END AS price_per_unit"))
    got3, three_jobs = median(syn3, "dense-three")
    want3 = sorted(map(tuple, naive_median_counts(syn3, ["city"]).collect()))
    assert got3 == want3
    assert got3 == [("dense0", 3000, 5.0 + 1e-9), ("dense1", 3000, 10.0 + 1e-9),
                    ("dense2", 3000, 15.0 + 1e-9), ("tiny", 1, 42.0)]
    assert 0 < three_jobs <= one_jobs, (three_jobs, one_jobs)


def test_grouped_median_null_bin_raises_named_error(spark, monkeypatch):
    """A NULL or non-positive price_per_unit in a reported city falls
    in the NULL log bin, where no single rank position matches the
    oracle's ORDER BY (NULLs last, negatives first): a named
    ValueError, not a wrong median, an empty answer or a TypeError."""
    import pytest
    from rental_engine.queries import _Ctx, _grouped_median
    identity_dims(monkeypatch)
    cases = [[("a", None), ("a", 1.0), ("a", 2.0)],
             [("a", -1.0), ("a", -2.0), ("a", 3.0)],
             [("a", -1.0), ("a", -2.0), ("a", 3.0), ("b", 2.0)],
             [("a", -1.0), ("a", 3.0), ("a", 4.0)]]
    for rows in cases:
        syn = spark.createDataFrame(rows, "city string, price_per_unit double")
        with pytest.raises(ValueError, match="positive, non-NULL"):
            _grouped_median(_Ctx(spark, SF_SMALL), syn, ["city"]).collect()


def test_region_preagg_matches_direct(spark):
    """The region rollup (pre-aggregate lineitem by l_orderkey before
    the dim join) must be bit-identical to the direct join-then-group
    formula, kept here as the reference."""
    from rental_engine.queries import (_Ctx, _cleaned_lineitem, _dims, _qavg,
                                       _region_rollup)
    for sf in (SF_SMALL, SF_MED):
        for col, out in (("price", "avg_price"), ("price_per_unit", "avg_ppu")):
            ctx = _Ctx(spark, sf)
            n = F.count(F.lit(1))
            direct = (_dims(ctx, _cleaned_lineitem(ctx), {"region"})
                      .groupBy("region")
                      .agg(n.alias("n_listings"), _qavg(col, n).alias(out)))
            pre = _region_rollup(spark, sf, col, out)
            assert pre.columns == direct.columns
            assert (sorted(map(tuple, direct.collect()))
                    == sorted(map(tuple, pre.collect()))), f"{sf} {col}"


def test_exact_quantiles_empty_input_raises_named_error(spark):
    """An empty input has no rank to resolve: a ValueError naming the
    rank and the row count, not a bare assertion (stripped by -O)."""
    import pytest
    from rental_engine.queries import _exact_quantiles
    empty = spark.range(0).selectExpr("CAST(id AS DOUBLE) AS v")
    with pytest.raises(ValueError, match=r"rank 0 out of range 1\.\.0 \(0 rows\)"):
        _exact_quantiles(empty, "v", [(1, 20), (19, 20)])


def test_size_probe_failure_keeps_results(spark, monkeypatch):
    """A table whose size cannot be statted (e.g. a non-local sf_dir)
    makes the size probe return None; the queries that consult it must
    still build and return the same rows, only without broadcast
    hints."""
    import os

    from rental_engine.queries import (_Ctx, cleaned_listings, multimodal_stats,
                                       region_avg_price)
    queries = (cleaned_listings, region_avg_price, multimodal_stats)
    want = [sorted(map(tuple, q(spark, SF_SMALL).collect())) for q in queries]
    assert _Ctx(spark, SF_SMALL).table_bytes("orders", "customer") > 0
    assert _Ctx(spark, "/nonexistent/sf").table_bytes("embeddings") is None

    def unstattable(path):
        raise OSError(f"cannot stat {path}")

    monkeypatch.setattr(os.path, "getsize", unstattable)
    assert _Ctx(spark, SF_SMALL).table_bytes("orders") is None
    got = [sorted(map(tuple, q(spark, SF_SMALL).collect())) for q in queries]
    assert got == want


def test_dedup_hash_groups_match_signature_groups(spark):
    """Grouping on the 128-bit signature digest must give the same
    result as grouping on the signature string itself."""
    from rental_engine.queries import docs_dedup
    for sf in (SF_SMALL, SF_MED):
        got = sorted(map(tuple, docs_dedup(spark, sf).collect()))
        want = sorted(map(tuple, (
            load(spark, sf, "documents")
            .selectExpr("doc_id",
                        "array_join(array_sort(array_distinct("
                        "split(lower(text), ' '))), ' ') AS signature",
                        "CAST(size(array_distinct(split(lower(text), ' ')))"
                        " AS INT) AS n_tokens")
            .groupBy("signature")
            .agg(F.min("doc_id").alias("survivor_doc_id"),
                 F.count(F.lit(1)).alias("n_members"),
                 F.min("n_tokens").alias("n_tokens"))
            .select("survivor_doc_id", "n_members", "n_tokens")).collect()))
        assert got == want, sf


def test_knn_query_guard_and_chunking(spark, monkeypatch):
    """The bounded collect must fail loudly past the limit, and query
    chunking must not change any cosine."""
    import rental_engine.queries as Q
    base = sorted(map(tuple, Q.embed_knn(spark, SF_SMALL).collect()))
    monkeypatch.setattr(Q, "KNN_QUERY_CHUNK", 3)
    chunked = sorted(map(tuple, Q.embed_knn(spark, SF_SMALL).collect()))
    assert base == chunked
    monkeypatch.setattr(Q, "KNN_MAX_QUERIES", 2)
    import pytest
    with pytest.raises(ValueError, match="query side exceeds"):
        Q.embed_knn(spark, SF_SMALL)


def test_hourly_two_level_distinct_null_semantics(spark):
    """The two-level exact distinct must exclude NULL user_id like
    count(DISTINCT user_id) does (the current testdata has no NULLs,
    so pin it synthetically)."""
    from pyspark.sql import types as T
    rows = [(1, "2031-01-01 10:05:00", 7, "view", 1.0, ""),
            (2, "2031-01-01 10:15:00", None, "view", 2.0, ""),
            (3, "2031-01-01 10:25:00", 7, "view", 3.0, ""),
            (4, "2031-01-01 10:35:00", 8, "view", 4.0, "")]
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType())])
    ev = (spark.createDataFrame(rows, schema)
          .selectExpr("CAST(ts_s AS TIMESTAMP_NTZ) AS ts",
                      "event_type", "user_id", "value"))
    pre = (ev.select(F.date_trunc("hour", "ts").alias("hour"), "event_type",
                     "user_id", F.floor(F.col("value") * F.lit(1000000.0)).alias("qv"))
             .groupBy("hour", "event_type", "user_id")
             .agg(F.count(F.lit(1)).alias("c"), F.sum("qv").alias("s")))
    got = (pre.groupBy("hour", "event_type")
              .agg(F.sum("c").alias("n_events"),
                   F.count("user_id").alias("n_users")).collect())
    want = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.countDistinct("user_id").alias("n_users")).collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got[0]["n_events"] == 4 and got[0]["n_users"] == 2


def test_qsum_overflow_headroom(spark):
    """_qsum documents a sum(|x|)*1e6 < 2^63 validity limit (past it a
    BIGINT sum fails the query with ARITHMETIC_OVERFLOW under Spark's
    default ANSI mode).  Prove the headroom at the
    LARGEST bench scale factor for every quantized accumulation the
    queries perform, including the regression's qx*qy products."""
    li = load(spark, "/root/testdata/sf0.1", "lineitem")
    r = li.selectExpr(
        "SUM(ABS(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT))) AS sp",
        "SUM(ABS(CAST(floor(l_extendedprice * (1 - l_discount) / l_quantity * 1e6) AS BIGINT))) AS sppu",
        "SUM(ABS(CAST(floor(l_quantity * 100.0) AS BIGINT) * "
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT))) AS sxy",
    ).collect()[0]
    ev = load(spark, "/root/testdata/sf0.1", "events").selectExpr(
        "SUM(ABS(CAST(floor(value * 1e6) AS BIGINT))) AS sv").collect()[0]
    for v in (r["sp"], r["sppu"], r["sxy"], ev["sv"]):
        assert v < 2 ** 62, v  # >= 2x headroom below the overflow point


def test_numpy_fold_matches_sql_fold(spark):
    """The numpy column-ordered fold must be bit-identical to the
    Catalyst left-fold aggregate it replaced."""
    from rental_engine.queries import _arrow_list_to_mat, _fold_dot
    emb = load(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    sql_fold = emb.selectExpr(
        "vec_id",
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS nn").collect()
    import numpy as np
    import pyarrow as pa
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float32).astype(np.float64)
    got = dict(zip((r["vec_id"] for r in rows), _fold_dot(mat, mat)))
    for r in sql_fold:
        assert got[r["vec_id"]] == r["nn"], r["vec_id"]
    # arrow list extraction roundtrip
    tbl = pa.table({"embedding": pa.array([list(r["embedding"]) for r in rows],
                                          type=pa.list_(pa.float32()))})
    m2 = _arrow_list_to_mat(tbl.column("embedding"))
    assert (m2 == mat).all()
