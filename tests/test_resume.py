"""Kill-and-resume: exactly-once spans after an injected mid-job failure
(north rule: resume from last committed snapshot; FIXTURES.md test plan)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from sparkstract.plans import checkpoint
from sparkstract.plans.checkpoint import (
    InjectedFailure,
    committed_groups,
    lineage,
    read_result,
    run_job,
)
from sparkstract.plans.pipeline import extract


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return (
        df[["doc_id", "order", "kind", "text", "media_ref"]]
        .fillna({"text": "", "media_ref": ""})
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )


def test_kill_and_resume_exactly_once(spark, fixture_set, tmp_path):
    docs, media, truth = fixture_set.to_spark(spark)
    out = str(tmp_path / "job")

    with pytest.raises(InjectedFailure):
        run_job(spark, docs, media, out, n_groups=4, fail_after_groups=2)

    partial = committed_groups(out)
    assert len(partial) == 2  # two groups committed before the kill

    # resume: only the remaining groups run; result is complete and exact
    result = run_job(spark, docs, media, out, n_groups=4)
    got = _norm(result.toPandas())
    want = _norm(truth.toPandas())
    pd.testing.assert_frame_equal(got, want)

    lin = lineage(spark, out).toPandas()
    assert sorted(lin["group"]) == [0, 1, 2, 3]
    assert int(lin["spans_out"].sum()) == len(want)  # no dupes, no gaps


def test_rerun_is_noop(spark, fixture_set, tmp_path):
    docs, media, truth = fixture_set.to_spark(spark)
    out = str(tmp_path / "job2")
    run_job(spark, docs, media, out, n_groups=2)
    before = committed_groups(out)
    run_job(spark, docs, media, out, n_groups=2)  # all committed → skip
    after = committed_groups(out)
    assert {g: r["committed_at"] for g, r in before.items()} == {
        g: r["committed_at"] for g, r in after.items()
    }
    got = _norm(read_result(spark, out).toPandas())
    want = _norm(truth.toPandas())
    pd.testing.assert_frame_equal(got, want)


def _count_extracts(monkeypatch) -> list:
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return extract(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "extract", counted)
    return calls


def _file_metrics(out: str, group: int) -> dict:
    df = pd.read_parquet(os.path.join(out, "data", f"group={group}"))
    return dict(docs=df["doc_id"].nunique(), spans_out=len(df),
                extracted_spans=int((df["kind"] != "text").sum()))


def test_one_extract_per_run(spark, fixture_set, tmp_path, monkeypatch):
    docs, media, truth = fixture_set.to_spark(spark)
    calls = _count_extracts(monkeypatch)
    out = str(tmp_path / "job3")

    with pytest.raises(InjectedFailure):
        run_job(spark, docs, media, out, n_groups=6, fail_after_groups=2)
    assert len(calls) == 1 and len(committed_groups(out)) == 2
    run_job(spark, docs, media, out, n_groups=6)  # the 4 pending groups
    assert len(calls) == 2
    run_job(spark, docs, media, out, n_groups=6)  # all committed: no extract
    assert len(calls) == 2
    run_job(spark, docs, media, str(tmp_path / "job3-one"), n_groups=1)
    assert len(calls) == 3

    # lineage metrics are the counts of each group's committed files
    recs = committed_groups(out)
    assert sorted(recs) == list(range(6))
    for g, rec in recs.items():
        want = _file_metrics(out, g)
        assert {k: rec[k] for k in want} == want
    assert sum(r["spans_out"] for r in recs.values()) == truth.count()


def test_empty_group_commits(spark, fixture_set, tmp_path):
    docs, media, truth = fixture_set.to_spark(spark)
    out = str(tmp_path / "job4")
    n_groups = docs.count() + 9  # more groups than docs: some get no rows

    result = run_job(spark, docs, media, out, n_groups=n_groups)
    pd.testing.assert_frame_equal(_norm(result.toPandas()),
                                  _norm(truth.toPandas()))
    recs = committed_groups(out)
    assert sorted(recs) == list(range(n_groups))
    empty = [g for g, r in recs.items() if r["spans_out"] == 0]
    assert empty
    for g in empty:
        assert (recs[g]["docs"], recs[g]["extracted_spans"]) == (0, 0)
        assert _file_metrics(out, g)["spans_out"] == 0
        part = spark.read.parquet(os.path.join(out, "data", f"group={g}"))
        assert part.columns == ["doc_id", "order", "kind", "text", "media_ref"]


def test_failure_before_first_commit(spark, fixture_set, tmp_path,
                                     monkeypatch):
    docs, media, truth = fixture_set.to_spark(spark)
    out = str(tmp_path / "job5")

    def killed(*args, **kwargs):
        raise InjectedFailure("killed before the first commit")

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "_commit_group", killed)
        with pytest.raises(InjectedFailure):
            run_job(spark, docs, media, out, n_groups=4)
    assert committed_groups(out) == {}
    assert read_result(spark, out).count() == 0

    result = run_job(spark, docs, media, out, n_groups=4)
    pd.testing.assert_frame_equal(_norm(result.toPandas()),
                                  _norm(truth.toPandas()))
    assert sorted(committed_groups(out)) == [0, 1, 2, 3]
