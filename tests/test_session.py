"""Session settings that the shared test session can show: the
whole-stage codegen cache holds one sampling run's generated classes."""

from pyspark.sql import functions as F

from pacasam_spark.samplers import TripleSampler
from pacasam_spark.sources.synthetic import synthetic_catalogue


def _compiled(spark):
    """Spark's histogram of whole-stage compile times in this JVM; its
    count is the number of classes compiled."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME()


def test_codegen_cache_keeps_a_runs_classes(spark, config):
    """A repeated TripleSampler call compiles no class, and a call with a
    new seed compiles only its per-seed classes (about 10). At Spark's
    default cache of 100 entries such calls recompiled 25-50 classes
    that the cache had evicted."""
    compiled = _compiled(spark)
    db = synthetic_catalogue(spark, db_size=2000).cache()
    config["target_total_num_patches"] = 100

    def classes_compiled(seed: int):
        before = compiled.getCount()
        selection = TripleSampler(db, config, seed=seed).get_selection()
        return compiled.getCount() - before, selection

    classes_compiled(1)
    for seed in (2, 3):
        n_new_seed, first = classes_compiled(seed)
        n_repeat, repeat = classes_compiled(seed)
        assert repeat.equals(first)
        assert n_repeat == 0, seed
        assert n_new_seed <= 20, (seed, n_new_seed)
    db.unpersist()


def test_codegen_cache_holds_more_than_spark_default(spark):
    """150 distinct plans, more than Spark's default cache of 100
    entries, stay cached: re-running the first 20 compiles nothing (at
    100 entries all 20 were recompiled)."""
    compiled = _compiled(spark)

    def plan(i: int):
        # the literal is inlined in the generated code: one class per i
        df = spark.range(10).select((F.col("id") * (i + 1000)).alias("x"))
        df.filter(F.col("x") > i).collect()

    for i in range(150):
        plan(i)
    before = compiled.getCount()
    for i in range(20):
        plan(i)
    assert compiled.getCount() - before == 0
