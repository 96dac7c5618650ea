"""Query-local cache inventory (cachereg, ADVICE r11 items 2-3):
tracked persists are released on demand, and explain-only consumers
can skip the eager materialization without changing plan shape.
Session-shared stages (``@shared_stage``) hit per (session, sf,
table loader)."""

from __future__ import annotations

import pytest

from terraform_aws_lambda_kinesis_to_s3_spark import cachereg as CR
from terraform_aws_lambda_kinesis_to_s3_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def test_track_and_release_all(spark):
    df = spark.range(10).persist()
    assert CR.track(df) is df
    df.count()
    assert df.storageLevel.useMemory
    CR.release_all()
    assert not df.storageLevel.useMemory  # unpersisted
    assert CR.TRACKED == []
    CR.release_all()  # idempotent on empty inventory


def test_release_all_survives_broken_entries(spark):
    class Boom:
        def unpersist(self):
            raise RuntimeError("already gone")

    CR.track(Boom())
    good = CR.track(spark.range(5).persist())
    CR.release_all()
    assert not good.storageLevel.useMemory
    assert CR.TRACKED == []


def test_eager_materialize_flag_skips_count():
    class CountSpy:
        calls = 0

        def count(self):
            CountSpy.calls += 1

    spy = CountSpy()
    CR.materialize(spy)
    assert CountSpy.calls == 1
    try:
        CR.EAGER_MATERIALIZE = False
        CR.materialize(spy)
        assert CountSpy.calls == 1  # skipped
    finally:
        CR.EAGER_MATERIALIZE = True


def test_plan_only_build_keeps_persist_boundaries(spark):
    """With EAGER_MATERIALIZE off, building an eager-persist query
    still produces the SAME plan shape (InMemoryTableScan boundaries
    present) — only the count() actions are skipped, so explain-only
    tooling does not execute the build."""
    import contextlib
    import io

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        REGISTRY,
    )

    try:
        CR.EAGER_MATERIALIZE = False
        df = REGISTRY["graph_triangle_parts_capped"][0](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "InMemoryTableScan" in buf.getvalue()
    finally:
        CR.EAGER_MATERIALIZE = True
        CR.release_all()


def test_shared_stage_serves_each_fixture_its_own_rows(spark):
    """Two documents fixtures under the SAME sf string: the second must
    not read the first one's cached term census.  The stage key carries
    the table loader, so each fixture gets its own entry."""
    def docs(sources):
        return spark.createDataFrame(
            [(i, f"w{i} w{i + 1} w0", "en", s, 8) for i, s in enumerate(sources)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    got = []
    orig = Q._t
    for d in (docs(["s0", "s1", "s0"]), docs(["zz", "zz"])):
        Q._t = lambda spark, sf, name, d=d, **kw: d
        try:
            rows = Q.q_corpus_kl_divergence(spark, "x").collect()
            got.append({r.source for r in rows})
        finally:
            Q._t = orig
    assert got == [{"s0", "s1"}, {"zz"}]
    Q.clear_shared_stages()


@pytest.mark.parametrize("helper", sorted(Q.SHARED_STAGE_CACHES))
def test_shared_stage_hits_per_loader(spark, helper):
    """Every registered stage: a second call under the same loader is a
    cache hit (the same object), while a different loader object —
    even one delegating to the same tables — builds its own entry."""
    stage = getattr(Q, helper)
    first = stage(spark, SF)
    assert stage(spark, SF) is first
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: orig(spark, sf, name, **kw)
    try:
        other = stage(spark, SF)
        assert other is not first
        assert stage(spark, SF) is other
    finally:
        Q._t = orig
        Q.clear_shared_stages()
        CR.release_all()
