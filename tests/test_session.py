"""The session's codegen cache holds one cognify's working set.

``get_spark`` sizes ``spark.sql.codegen.cache.maxEntries`` above the ~351
classes one cognify + search cycle generates (session.py). At Spark's
default of 100 the cache evicted every class before its reuse, and a second
identical cognify in the same session recompiled ~270 classes; with the
working set cached it compiles a handful.
"""

from __future__ import annotations

from cognee_spark.pipeline import run_pipeline
from cognee_spark.sources.corpus import build_repos_df

N = 40
# measured: 2-12 compiles on a warm rerun at 2,000 entries, 265-275 at 100
MAX_WARM_COMPILES = 40


def test_codegen_cache_holds_the_working_set(spark):
    entries = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert int(entries) >= 400


def test_second_identical_cognify_compiles_almost_nothing(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    build_repos_df(spark, N).write.parquet(corpus)
    repos = spark.read.parquet(corpus)

    def cognify(name: str) -> list[dict]:
        out = run_pipeline(
            spark, repos, str(tmp_path / name), f"synthetic:{N}",
            compute_metrics=False, force=True,
        )
        return out["metrics"]["stages"]

    cold = cognify("first")
    assert all("codegen_compiles" in c for c in cold)
    warm = cognify("second")
    assert {c["stage"] for c in warm} == {c["stage"] for c in cold}
    assert all(c["codegen_compiles"] >= 0 for c in warm)
    assert sum(c["codegen_compiles"] for c in warm) <= MAX_WARM_COMPILES
