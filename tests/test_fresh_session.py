"""Regression guard: the driver's correctness harness builds its OWN
SparkSession without our session.py confs. tables.t() must still read
every table — in round 1 all events.parquet reads died with
PARQUET_TYPE_ILLEGAL (INT64 TIMESTAMP(NANOS)) because only our session
set spark.sql.legacy.parquet.nanosAsLong. t() now sets it at runtime.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_processor_spark.tables import t


def test_events_reads_in_unconfigured_session(spark, sf_dir):
    # newSession() shares the JVM but gets its own SQLConf; unset the
    # legacy conf to mimic the driver's vanilla session.
    fresh = spark.newSession()
    fresh.conf.unset("spark.sql.legacy.parquet.nanosAsLong")

    df = t(fresh, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0
    # the ns→µs conversion must yield sane timestamps, not epoch garbage
    yr = df.select(F.min(F.year("ts")).alias("y")).collect()[0].y
    assert 1990 <= yr <= 2100


def test_events_query_runs_in_unconfigured_session(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries

    fresh = spark.newSession()
    fresh.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    out = all_queries()["agg_groupby_count"](fresh, sf_dir)
    assert out.count() > 0


def test_numeric_results_independent_of_partitioning(spark, sf_dir):
    # The determinism contract (numeric.py: decimal-exact sums, fixed
    # tie-breaks, single trailing double ops) must hold under ANY
    # parallelism — a partition-count-dependent result would pass the
    # local oracle and silently break on a real cluster. Run the most
    # numerically sensitive queries at 64 and at 7 shuffle partitions
    # and require identical values.
    from parquet_processor_spark.registry import all_queries

    sensitive = [
        "agg_corr", "feature_zscore", "agg_gini", "quality_bigram_lm",
        # round-6 numerically sensitive additions: exact-moment OLS,
        # EWMA lag chains, discrete-rank MAD/winsorize, 1/size weights,
        # decimal cohort LTV cumsum, Benford shares
        "agg_regression", "window_ewma", "feature_mad_outliers",
        "feature_winsorize", "sample_downweight_dups", "events_cohort_ltv",
        "agg_benford",
        # round-13: two-phase ranks whose tie ORDER is partition-
        # dependent but whose values must not be (gini re-covered
        # under the new rank path), pinned-order double folds, and
        # sorted listagg canonicalization
        "agg_trimmed_mean", "window_cume_dist", "agg_levene",
        "events_cem_att", "agg_hhi", "agg_string_agg",
        "graph_degree_assortativity", "events_autocorrelation",
        "report_embedding_health",
    ]
    qs = all_queries()
    wide = spark.newSession()
    narrow = spark.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "7")
    for name in sensitive:
        a = sorted(map(tuple, qs[name](wide, sf_dir).collect()))
        b = sorted(map(tuple, qs[name](narrow, sf_dir).collect()))
        assert a == b, f"{name}: result depends on partition count"


_REWRITE_QUERIES = ("dedup_near", "dedup_simhash", "sim_topk_ivfpq", "sink_ann_index_upsert")


def _stage(dst, src: str) -> None:
    # copyfile, not copy: the testdata files are read-only, and a copied
    # mode bit would make the rewrite below fail
    import shutil

    dst.mkdir(exist_ok=True)
    for table in ("documents", "embeddings"):
        shutil.copyfile(f"{src}/{table}.parquet", dst / f"{table}.parquet")


def test_rewritten_tables_give_the_new_contents_rows(spark, sf_dir, tmp_path):
    # A query's rows are a function of the files it reads. Rewriting the
    # tables at the same path, with no clearCache() in between, must give
    # exactly the rows of a fresh directory holding the new files — no
    # signature table or index part may survive from the first run.
    import os

    from parquet_processor_spark.registry import all_queries

    qs = all_queries()

    def run(d) -> dict:
        return {n: sorted(map(tuple, qs[n](spark, str(d)).collect())) for n in _REWRITE_QUERIES}

    larger = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    shared = tmp_path / "shared"
    _stage(shared, sf_dir)
    old = run(shared)  # first use of the path: this is the fresh-directory run
    _stage(shared, larger)
    new = run(shared)
    fresh = tmp_path / "fresh"
    _stage(fresh, larger)
    expected = run(fresh)
    assert old != new, "the two contents must give different rows, or this test proves nothing"
    for name in _REWRITE_QUERIES:
        assert new[name] == expected[name], f"{name}: rows of the overwritten tables' old contents"


def test_trained_ivf_queries_build_off_the_main_thread(spark, sf_dir):
    # The trained-centroid kernels broadcast through the frame's own
    # session: SparkSession.getActiveSession() is thread-local and is
    # None on a thread that never set one.
    import threading

    from parquet_processor_spark.registry import all_queries

    qs = all_queries()
    names = ("sim_topk_ivfpq", "sim_topk_ivf_trained")
    got: dict = {}
    errors: list = []

    def build() -> None:
        try:
            for name in names:
                got[name] = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        except Exception as exc:  # noqa: BLE001 — re-raised on the main thread
            errors.append(exc)

    worker = threading.Thread(target=build)
    worker.start()
    worker.join(timeout=600)
    assert not worker.is_alive(), "build thread did not finish"
    assert not errors, errors
    for name in names:
        assert got[name] == sorted(map(tuple, qs[name](spark, sf_dir).collect())), name


def test_python_udf_query_runs_from_another_directory(sf_dir, tmp_path):
    # The Python workers must import the package whatever directory the
    # program was launched from, with no PYTHONPATH: its UDFs reference
    # package functions by module.
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from parquet_processor_spark.registry import all_queries\n"
        "from parquet_processor_spark.session import get_spark\n"
        "spark = get_spark('other-cwd', cpus=2, shuffle_partitions=2)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"print(len(all_queries()['multimodal_features'](spark, {sf_dir!r}).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert int(proc.stdout.strip().splitlines()[-1]) > 0
