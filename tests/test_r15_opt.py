"""r15 optimization-round contracts: the materialize() strategy helper,
checkpoint-block reclaimability (the serving-path lifetime contract),
backtick-quoted interpolated identifiers, connected_components guards,
and the serving session factory."""

from __future__ import annotations

import gc
import os

import pytest
from pyspark.sql import functions as F

from comlake_core_spark.session import get_spark, materialize, sql_ident


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-r15-opt")


def _n_persistent(spark) -> int:
    # Count through SparkContext.persistentRdds, the registry itself, which
    # holds its RDDs by weak reference.  JavaSparkContext.getPersistentRDDs()
    # would instead build a new Java map with a strong reference to every
    # live RDD; py4j frees that map only when its finalizer thread gets to
    # the Python proxy (it sleeps 1 s when idle), so each poll would pin
    # every block through the next System.gc() and the count could never
    # fall.
    return spark.sparkContext._jsc.sc().persistentRdds().size()


def test_materialize_local_default_cuts_lineage(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = materialize(df)
    # localCheckpoint shows up as an ExistingRDD scan — the lineage cut
    assert "ExistingRDD" in out._jdf.queryExecution().toString()
    assert out.count() == 100


def test_materialize_persist_mode(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    df = spark.range(50).withColumn("x", F.col("id") + 1)
    out = materialize(df)
    assert out.storageLevel.useMemory  # persist marker applied
    assert out.count() == 50
    out.unpersist(True)


def test_materialize_persist_eager_fills(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    out = materialize(spark.range(10), eager=True)
    assert out.storageLevel.useMemory
    out.unpersist(True)


def test_materialize_rejects_unknown_mode(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "nope")
    with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
        materialize(spark.range(1))


def test_repeated_heavy_query_blocks_are_reclaimable(spark):
    """VERDICT r14 #3: a long-lived session running the same checkpoint-
    heavy operator repeatedly must not accumulate localCheckpoint blocks
    once the result frames go unreachable — the operator-level contract
    that makes the serving tier's periodicGC cadence sufficient (blocks
    must be GC-reclaimable, not pinned by lingering operator-internal
    references)."""
    from comlake_core_spark.operators.dedup.minhash import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared common words here") for i in range(40)],
        "doc_id long, text string",
    )
    # settle any blocks owned by other tests' live frames
    gc.collect()
    spark._jvm.System.gc()
    import time

    time.sleep(0.5)
    base = _n_persistent(spark)
    for _ in range(3):
        res = minhash_lsh_pairs(docs, threshold=0.1)
        res.count()
        del res
    # the serving path's reclamation cadence, compressed: drop Python
    # anchors, then let the ContextCleaner run (it needs a JVM GC to
    # process the weak references)
    gc.collect()
    for _ in range(10):
        spark._jvm.System.gc()
        time.sleep(0.3)
        if _n_persistent(spark) <= base:
            break
    assert _n_persistent(spark) <= base, (
        f"checkpoint blocks accumulated: {base} -> {_n_persistent(spark)}"
    )


def test_sql_ident_quotes_and_escapes():
    assert sql_ident("plain") == "`plain`"
    assert sql_ident("has space") == "`has space`"
    assert sql_ident("tick`inside") == "`tick``inside`"


def test_minhash_signature_string_path_handles_odd_names(spark):
    """ADVICE r14: interpolated identifiers must be backtick-quoted — a
    column name with a space must produce the identical signature through
    the SQL-string path as through the Column path."""
    from comlake_core_spark.operators.dedup.minhash import minhash_signature, shingles

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z w v u")], "doc_id long, text string"
    )
    base = docs.select("doc_id", shingles(F.col("text"), 3).alias("my shingles"))
    via_str = base.select("doc_id", minhash_signature("my shingles", 8).alias("s")).collect()
    via_col = base.select(
        "doc_id", minhash_signature(F.col("my shingles"), 8).alias("s")
    ).collect()
    assert sorted(map(str, via_str)) == sorted(map(str, via_col))


def test_centroid_drift_handles_odd_vector_column_name(spark):
    from comlake_core_spark.operators.similarity.drift import centroid_drift

    rows = [(i, "l0", [float(i % 3), 1.0]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, label string, `my vec` array<double>")
    out = centroid_drift(
        emb, (F.col("vec_id") % 2).cast("int"), vec_col="my vec", dim=2
    ).collect()
    assert len(out) == 1 and out[0]["label"] == "l0"


def test_connected_components_rejects_zero_max_iter(spark):
    from comlake_core_spark.operators.dedup.graph import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_connected_components_edges_cut_same_answer(spark):
    from comlake_core_spark.operators.dedup.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    want = {(r["node"], r["component"]) for r in connected_components(pairs).collect()}
    cut = pairs.localCheckpoint(eager=False)
    got = {
        (r["node"], r["component"])
        for r in connected_components(cut, edges_cut=True).collect()
    }
    assert got == want


def test_get_serving_spark_sets_periodic_gc_default(monkeypatch):
    """The serving entry point opts into the 5min ContextCleaner cadence
    (VERDICT r14 #3); batch get_spark leaves the Spark default alone."""
    monkeypatch.delenv("SPARK_GRAFT_PERIODIC_GC", raising=False)
    from comlake_core_spark.session import get_serving_spark

    s = get_serving_spark("test-serving")
    assert os.environ["SPARK_GRAFT_PERIODIC_GC"] == "5min"
    assert s is not None
    # explicit override wins
    monkeypatch.setenv("SPARK_GRAFT_PERIODIC_GC", "2min")
    get_serving_spark("test-serving")
    assert os.environ["SPARK_GRAFT_PERIODIC_GC"] == "2min"
