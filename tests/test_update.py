"""Cognee.update (api.py) vs the reference's update verb
(api/v1/update/update.py:12-108): delete+add+cognify as a staged add
(last batch wins on the item key) + content-signature re-derive."""

from __future__ import annotations

from pyspark.sql import functions as F

from cognee_spark.api import Cognee
from cognee_spark.sources.corpus import build_repos_df

SPINE = {"with_summaries": False, "with_index": False}


def test_update_replaces_item_and_rederives(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    repos = build_repos_df(spark, 12)
    engine.add(repos)
    before = engine.cognify(**SPINE)
    target = repos.select("repo", "path").first()
    old_triples = {
        (r.subj, r.pred, r.obj) for r in before["tables"]["triples"].collect()
    }

    # replacement empties the item: its derivations must vanish, nothing new
    new_rows = repos.where(
        (F.col("repo") == target.repo) & (F.col("path") == target.path)
    ).withColumn("content", F.lit(""))
    out = engine.update(new_rows, **SPINE)
    assert out["replaced"] == 1
    assert out["corpus"].count() == repos.count()  # replace, not append
    after = {(r.subj, r.pred, r.obj) for r in out["tables"]["triples"].collect()}
    # the replaced item's own facts are gone (facts have the module as subj)
    module = target.path.removeprefix("src/").rsplit(".", 1)[0].replace("/", ".")
    mod_id = f"{target.repo}:{module}"
    assert any(s.startswith(mod_id) for s, _, _ in old_triples)
    assert not any(s.startswith(mod_id) for s, _, _ in after)
    # the rest of the corpus survived (a changed item may legitimately alter
    # cross-file call resolution, so we assert survival, not set-subset)
    assert old_triples & after


def test_update_with_unmatched_rows_is_an_add(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    repos = build_repos_df(spark, 8)
    engine.add(repos)
    added = repos.limit(1).select(
        F.lit("new_repo").alias("repo"), F.lit("brand/new.py").alias("path"),
        *[c for c in repos.columns if c not in ("repo", "path")],
    )
    out = engine.update(added, **SPINE)
    assert out["replaced"] == 0
    assert out["corpus"].count() == repos.count() + 1


def test_noop_update_resumes_committed_stages(spark, tmp_path):
    engine = Cognee(spark, str(tmp_path / "kg"))
    repos = build_repos_df(spark, 8)
    engine.add(repos)
    one = repos.limit(1)
    first = engine.update(one, **SPINE)
    # same corpus again → same content signature → stages resume, not rebuild
    second = engine.update(one, **SPINE)

    def _ts(out):
        return {
            c["stage"]: c["ts"] for c in out["metrics"]["stages"]
            if c["stage"] == "triples"
        }

    # identical commit timestamps prove the stage resumed instead of rebuilding
    assert _ts(first) == _ts(second)
    assert first["tables"]["triples"].count() == second["tables"]["triples"].count()
