"""Wave-45 laws (round 10): the review-hardened winnow maintenance
surface — guard symmetry on winnow_matches_from_index, merge_winnow_stats'
optional disjointness assertion, streaming_winnow_stats' dedup_guard
(replayed ingest no longer inflates the streamed df table) — plus the
round's new composed operators: the crawl-ingest front door
(streaming_ingest_gate composes exactly its four component verdicts, one
stateful op, no cartesian), the winnow-tier drift gate (clean split does
NOT trip; injected boilerplate trips at exactly 1/delta-share), and the
serve operating-point table (recall monotone in both knobs, exactly one
production row, mean_recall = hits/(n_queries·k))."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def test_winnow_from_index_stats_requires_cap(spark):
    """The mirror of the cap-requires-stats guard: a caller who built
    and passed a stats frame but forgot max_df intended the stop-gram
    cap — silently running the uncapped quadratic pair join is the
    failure mode, so it must raise."""
    from incubator_flink_old_spark.operators.text import (
        winnow_fingerprints,
        winnow_index_stats,
        winnow_matches_from_index,
    )
    from incubator_flink_old_spark.queries._util import t

    fps = winnow_fingerprints(
        t(spark, SF, "documents").limit(20), k=3, w=4, hashes_only=True
    )
    stats = winnow_index_stats(fps)
    with pytest.raises(ValueError, match="max_df is None"):
        winnow_matches_from_index(fps, stats, max_df=None)


def test_merge_winnow_stats_disjointness_assertion(spark):
    """merge_winnow_stats(doc_keys=...) must (a) accept genuinely
    disjoint sources and return the same digest as the unchecked merge,
    (b) raise naming an offending document when sources overlap, and
    (c) raise on a doc_keys/stats arity mismatch."""
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        winnow_fingerprints,
        winnow_index_stats,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents").limit(100)
    is_delta = F.col("doc_id") % 5 == 4
    base, delta = docs.filter(~is_delta), docs.filter(is_delta)
    fps_b = winnow_fingerprints(base, k=3, w=4, hashes_only=True)
    fps_d = winnow_fingerprints(delta, k=3, w=4, hashes_only=True)
    sb, sd = winnow_index_stats(fps_b), winnow_index_stats(fps_d)

    checked = merge_winnow_stats(
        sb,
        sd,
        doc_keys=[
            base.select("doc_id"),
            delta.select("doc_id"),
        ],
    )
    unchecked = merge_winnow_stats(sb, sd)
    assert sorted(map(tuple, checked.collect())) == sorted(
        map(tuple, unchecked.collect())
    )

    with pytest.raises(ValueError, match="not disjoint"):
        merge_winnow_stats(
            sb,
            sd,
            doc_keys=[
                base.select("doc_id"),
                # overlap: the delta claims one base document too
                delta.select("doc_id").unionByName(
                    base.select("doc_id").limit(1)
                ),
            ],
        ).collect()

    with pytest.raises(ValueError, match="doc_keys frames"):
        merge_winnow_stats(sb, sd, doc_keys=[base.select("doc_id")])


def test_streaming_winnow_stats_dedup_guard(spark, tmp_path):
    """Under REPLAYED ingest (every document arrives twice) the
    unguarded streamed df table doubles every count — the silent
    divergence from the batch count-distinct twin the review flagged —
    while dedup_guard=True restores exact parity with
    winnow_index_stats over the distinct corpus."""
    from incubator_flink_old_spark.operators.text import (
        streaming_winnow_stats,
        winnow_fingerprints,
        winnow_index_stats,
    )
    from incubator_flink_old_spark.queries._util import t
    from incubator_flink_old_spark.streaming import run_stream_to_memory

    docs = t(spark, SF, "documents").limit(60).select("doc_id", "text")
    src = str(tmp_path / "win_dup_src")
    # two identical files = the whole corpus replayed once
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    docs.coalesce(1).write.mode("append").parquet(src)

    def run(guard: bool) -> list[tuple]:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        sink = run_stream_to_memory(
            streaming_winnow_stats(stream, k=3, w=4, dedup_guard=guard),
            "complete",
            state_partitions=4,
        )
        return sorted(map(tuple, sink.collect()))

    batch = sorted(
        map(
            tuple,
            winnow_index_stats(
                winnow_fingerprints(docs, k=3, w=4, hashes_only=True)
            ).collect(),
        )
    )
    assert run(True) == batch
    assert run(False) == [(fp, 2 * df) for fp, df in batch]


def test_ingest_gate_composes_its_components(spark):
    """The composed front door must agree flag-by-flag with its
    components run separately: quality_ok with quality_score's keep,
    lang_ok with the allowlist, has_neardup with the deduped near-dup
    screen's doc_a set, has_spandup with the winnow screen's doc_a set,
    and admit must be exactly the conjunction. One row per new doc."""
    from incubator_flink_old_spark.operators.text import (
        quality_score,
        streaming_ingest_gate,
        streaming_neardup_screen,
        streaming_winnow_screen,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % 5 == 4
    # One genuinely novel, clean, in-language document rides along: the
    # fixture corpus is adversarially span-saturated (every real new doc
    # shares a ≥6-token span with the corpus at sf0.001), so this is the
    # only way to pin the ADMIT path — a fresh clean crawl page must get
    # through all four gates.
    novel_text = " ".join(
        f"the quiet zx{i}qv of a brass orrery and to frame it" for i in range(9)
    )
    novel = docs.sparkSession.createDataFrame(
        [(10_000_019, novel_text, "en")], "doc_id long, text string, lang string"
    )
    new, corpus = docs.filter(is_new), docs.filter(~is_new)
    new_side = new.select("doc_id", "text", "lang").unionByName(novel)
    langs = ("en", "de")
    got = {
        r.doc_id: r
        for r in streaming_ingest_gate(
            new_side,
            corpus,
            langs=langs,
            max_df=100,
        ).collect()
    }
    assert len(got) == new.count() + 1

    q = {
        r.doc_id: bool(r.keep)
        for r in quality_score(new_side).collect()
    }
    lang_ok = {
        r.doc_id: r.lang in langs
        for r in new_side.select("doc_id", "lang").collect()
    }
    near = {
        r.doc_a
        for r in streaming_neardup_screen(
            new_side.select("doc_id", "text"), corpus
        ).collect()
    }
    span = {
        r.doc_a
        for r in streaming_winnow_screen(
            new_side.select("doc_id", "text"), corpus, max_df=100
        ).collect()
    }
    for d, r in got.items():
        assert r.quality_ok == q[d]
        assert r.lang_ok == lang_ok[d]
        assert r.has_neardup == (d in near)
        assert r.has_spandup == (d in span)
        assert r.admit == (
            q[d] and lang_ok[d] and d not in near and d not in span
        )
    # the fixture must exercise every gate: at least one doc fails each,
    # and the planted novel document is ADMITTED through all four
    assert any(not r.quality_ok for r in got.values())
    assert any(not r.lang_ok for r in got.values())
    assert any(r.has_neardup for r in got.values())
    assert any(r.has_spandup for r in got.values())
    assert got[10_000_019].admit


def test_ingest_gate_plan_single_aggregate_no_cartesian(spark):
    """The composition promise in the docstring, checked on the plan:
    exactly ONE aggregate over the unioned evidence (plus the corpus
    df-cap's, which is static-side), and no cartesian product — the
    probes are equi-joins."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % 5 == 4
    plan = streaming_ingest_gate(
        docs.filter(is_new).select("doc_id", "text", "lang"),
        docs.filter(~is_new),
        max_df=100,
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan and "cartesian" not in plan
    # verdict agg + corpus-cap agg and nothing else
    assert plan.count("Aggregate") == 2


def test_winnow_drift_gate_laws(spark):
    """The drift gate's two laws, the q_drift_retrain discipline: (a) a
    CLEAN split (no injected boilerplate) must NOT trip — the gate
    raises, naming the proportional-accretion reason; (b) the drifted
    delta trips at exactly fp_skew = 1/delta-share (the boilerplate
    fingerprints are pure delta mass) and every emitted refresh row is
    newly_hot with df_base below the cap."""
    from incubator_flink_old_spark.operators.text import (
        winnow_drift_audit,
        winnow_fingerprints,
        winnow_index_stats,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents")
    is_new = F.col("doc_id") % 5 == 4
    base = docs.filter(~is_new).select("doc_id", "text")
    boiler = "zyx0q wvu1r tsr2s qpo3t nml4u kji5v hgf6w edc7x baz8y xwv9z"
    clean = docs.filter(is_new).select("doc_id", "text")
    drifted = clean.select(
        "doc_id", F.concat(F.col("text"), F.lit(" " + boiler)).alias("text")
    )
    bs = winnow_index_stats(
        winnow_fingerprints(base, k=3, w=4, hashes_only=True)
    )
    nb, nd = base.count(), clean.count()

    with pytest.raises(ValueError, match="not tripped"):
        winnow_drift_audit(
            bs,
            winnow_index_stats(
                winnow_fingerprints(clean, k=3, w=4, hashes_only=True)
            ),
            max_df=25,
            n_base=nb,
            n_delta=nd,
        )

    rows = winnow_drift_audit(
        bs,
        winnow_index_stats(
            winnow_fingerprints(drifted, k=3, w=4, hashes_only=True)
        ),
        max_df=25,
        n_base=nb,
        n_delta=nd,
    ).collect()
    assert rows
    share = nd / (nb + nd)
    for r in rows:
        assert r.newly_hot and r.df_base <= 25 < r.df_merged
        assert r.fp_skew == 1.0 / share


def test_serve_operating_point_laws(spark):
    """The operating-point table's internal laws: recall is monotone in
    probe mass at fixed shortlist ((1,20) ≤ (3,20) ≤ (8,20)) and in the
    shortlist at fixed probes ((3,5) ≤ (3,20)); exactly one row is the
    production point; mean_recall is exactly hits/(n_queries·k)."""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    rows = {
        (r.n_probe, r.refine_c): r
        for r in QUERIES["q_serve_operating_point"](spark, SF).collect()
    }
    assert set(rows) == {(1, 20), (3, 5), (3, 20), (8, 20)}
    assert rows[(1, 20)].mean_recall <= rows[(3, 20)].mean_recall
    assert rows[(3, 20)].mean_recall <= rows[(8, 20)].mean_recall
    assert rows[(3, 5)].mean_recall <= rows[(3, 20)].mean_recall
    assert [k for k, r in rows.items() if r.is_production] == [(3, 20)]
    for r in rows.values():
        assert r.mean_recall == r.hits / 100.0


def test_ingest_lifecycle_absorption_screens_next_wave(spark):
    """The lifecycle's load-bearing claim at sf0.001: at least one
    wave-2 document is flagged near-dup ONLY because a wave-1 admit
    joined the corpus — the frozen corpus alone misses it. Also pins
    wave-1 verdicts ≡ the plain gate against the standing corpus, and
    that an unknown screen name raises."""
    from incubator_flink_old_spark.operators.text import (
        streaming_ingest_gate,
    )
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries
    from incubator_flink_old_spark.queries._util import t

    load_all_queries()
    rows = QUERIES["q_ingest_lifecycle"](spark, SF).collect()
    docs = t(spark, SF, "documents")
    m5 = F.col("doc_id") % 5
    kw = dict(langs=("en", "de", "fr"), screens=("neardup",))
    g1 = {
        r.doc_id: r
        for r in streaming_ingest_gate(
            docs.filter(m5 == 3).select("doc_id", "text", "lang"),
            docs.filter(m5 <= 2),
            **kw,
        ).collect()
    }
    for r in rows:
        if r.wave == 1:
            assert g1[r.doc_id].admit == r.admit
            assert g1[r.doc_id].has_neardup == r.has_neardup
    # wave 2 against the FROZEN corpus misses at least one near-dup the
    # absorbed corpus catches (measured: exactly the absorption effect)
    frozen2 = {
        r.doc_id
        for r in streaming_ingest_gate(
            docs.filter(m5 == 4).select("doc_id", "text", "lang"),
            docs.filter(m5 <= 2),
            **kw,
        ).collect()
        if r.has_neardup
    }
    lifecycle2 = {r.doc_id for r in rows if r.wave == 2 and r.has_neardup}
    assert lifecycle2 - frozen2, "absorption changed nothing — fixture broke"
    assert frozen2 <= lifecycle2  # absorbing can only ADD partners

    with pytest.raises(ValueError, match="unknown screens"):
        streaming_ingest_gate(
            docs.filter(m5 == 4).select("doc_id", "text", "lang"),
            docs.filter(m5 <= 2),
            screens=("neardup", "spna"),
        )


def test_review_fix_guards(spark):
    """Round-10 review-fix guards: a multi-column doc_keys frame raises
    (it would silently check the wrong column's disjointness), and an
    empty delta raises the designed not-tripped error, not
    ZeroDivisionError."""
    from incubator_flink_old_spark.operators.text import (
        merge_winnow_stats,
        winnow_drift_audit,
        winnow_fingerprints,
        winnow_index_stats,
    )
    from incubator_flink_old_spark.queries._util import t

    docs = t(spark, SF, "documents").limit(40)
    fps = winnow_fingerprints(docs, k=3, w=4, hashes_only=True)
    stats = winnow_index_stats(fps)
    with pytest.raises(ValueError, match="single-column"):
        merge_winnow_stats(stats, stats, doc_keys=[fps, fps])
    with pytest.raises(ValueError, match="empty delta"):
        winnow_drift_audit(stats, stats, max_df=25, n_base=40, n_delta=0)
