"""The r13 metadata plane: security/extra/origin resolve from an op
log (the reference PATCHes them on update —
nucliadb_models/src/nucliadb_models/writer.py:155-169), and text
keywords resolve from the content log. These pin the semantics the
classifier encodes: a lockdown below the snapshot hides resources, a
lockdown after it does not; a keyword matches the text version AT the
seq, in both directions."""

from pyspark.sql import functions as F

from nucliadb_spark import api
from nucliadb_spark.operators.filters import Keyword, SecurityFilter
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest


def _meta_at(spark, sf_dir, seq):
    return ingest.META.resolve(
        ingest.cdc_meta_log(tpch.fields(spark, sf_dir)).filter(
            F.col("seq") <= seq
        )
    )


def test_meta_log_lockdown_wave_is_versioned(spark, sf_dir):
    """Before the lockdown seq a rid%7 doc carries its creation-time
    security; at/after it, private + 'group-locked'; after the delete
    wave the rid drops out entirely — three observably different
    states of the SAME attribute, which is what makes it a plane with
    snapshot identity rather than a static column."""
    rid7 = [
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter((F.col("rid") % 7 == 0) & (F.col("rid") % 11 != 0))
        .select("rid")
        .collect()
    ]
    assert rid7
    probe = rid7[0]
    before = _meta_at(spark, sf_dir, 999_999).filter(F.col("rid") == probe).collect()
    after = _meta_at(spark, sf_dir, 1_500_000).filter(F.col("rid") == probe).collect()
    assert before[0].security_public == (probe % 4 != 0)
    assert before[0].security_groups == [f"group-{probe % 7}"]
    assert after[0].security_public is False
    assert after[0].security_groups == [ingest._LOCK_GROUP]
    # non-security metadata rides through the revision unchanged
    assert after[0].extra == before[0].extra
    assert after[0].source == before[0].source
    # the delete wave removes the rid's metadata row (rid 11 exists
    # at every sf and is in the rid%11 delete wave)
    head = _meta_at(spark, sf_dir, 3_000_000)
    assert head.filter(F.col("rid") == 11).count() == 0


def test_lockdown_after_snapshot_does_not_hide_the_past(spark, sf_dir):
    """The hazard the r12 verdict named, pinned from the other side:
    a security revision AFTER the pinned snapshot must not
    retroactively hide what that snapshot could see. At seq 999,999
    (pre-lockdown) rid%7 docs are visible under their creation-time
    security; the same request at 1.5M (post-lockdown) excludes
    them."""
    sec = SecurityFilter(groups=["group-0"])  # the group the wave locks

    def allowed(seq):
        return {
            r.rid
            for r in _meta_at(spark, sf_dir, seq)
            .filter(sec.to_column())
            .select("rid")
            .collect()
        }

    pre = allowed(999_999)
    post = allowed(1_500_000)
    rid7_pre = {r for r in pre if r % 7 == 0}
    assert rid7_pre, "group-0 members are exactly the rid%7 docs"
    # the lockdown flips BOTH public and groups: post-lockdown, no
    # rid%7 doc is visible at all — while the pre-lockdown snapshot
    # still answers with them (the past is not rewritten)
    assert not {r for r in post if r % 7 == 0}
    assert rid7_pre <= pre


def test_as_of_keyword_filter_matches_text_version_at_the_seq(spark, sf_dir):
    """The 'text' plane, both MVCC directions: at the mid-wave cut
    (1,000,030) a Keyword('refreshed') filter matches exactly the
    docs whose AS-OF version contains the term — a doc revised only
    after the cut must not match even though its head version does,
    and a doc deleted after the cut must match if its at-cut version
    does (and not at the head)."""

    def hits(as_of):
        req = api.FindRequest(
            query="refreshed",
            features=["keyword"],
            top_k=50,
            window=50,
            as_of=as_of,
            filters=Keyword("refreshed"),
        )
        return {r.id for r in api.find_request(spark, sf_dir, req).collect()}

    mid = hits(1_000_030)
    head = hits(3_000_000)
    # at the cut: revisions applied only for rid <= 30
    assert mid == {r for r in mid if r % 7 == 0 and r <= 30}
    assert mid
    revised_later = {r for r in head if r > 30}
    assert revised_later, "fixture must have revisions beyond the cut"
    assert not (revised_later & mid)  # head text matches, at-cut must not
    deleted_later = {r for r in mid if r % 11 == 0}
    assert deleted_later, "fixture must delete a matching doc later"
    assert not (deleted_later & head)  # gone at the head, present at cut


def test_meta_and_text_planes_join_with_static_in_one_tree(spark, sf_dir):
    """A three-plane tree (text keyword AND created bound AND
    security) evaluates as one joined frame: every hit satisfies all
    three against their respective seq-cut states."""
    from nucliadb_spark.operators.filters import And, DateRange

    seq = 1_500_000
    # the revision and lockdown waves ride the same update event, so
    # 'refreshed' docs are visible only to the locked group — query
    # as that group (the auditor reviewing the lockdown)
    tree = And(
        [
            Keyword("refreshed"),
            DateRange("created", until="2024-06-30 00:00:00"),
            SecurityFilter(groups=[ingest._LOCK_GROUP]),
        ]
    )
    assert api._filter_planes(tree) == {"text", "static", "meta"}
    req = api.FindRequest(
        query="refreshed revision",
        features=["keyword"],
        top_k=100,
        window=100,
        as_of=seq,
        filters=tree,
    )
    hits = {r.id for r in api.find_request(spark, sf_dir, req).collect()}
    assert hits
    text_ok = {
        r.rid
        for r in ingest.cdc_live_as_of(
            ingest.cdc_log(tpch.fields(spark, sf_dir)), seq
        )
        .filter(Keyword("refreshed").to_column())
        .select("rid")
        .collect()
    }
    sec_ok = {
        r.rid
        for r in _meta_at(spark, sf_dir, seq)
        .filter(SecurityFilter(groups=[ingest._LOCK_GROUP]).to_column())
        .select("rid")
        .collect()
    }
    date_ok = {
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter(
            DateRange("created", until="2024-06-30 00:00:00").to_column()
        )
        .select("rid")
        .collect()
    }
    assert hits <= (text_ok & sec_ok & date_ok)


def test_plane_logs_share_one_write_schedule(spark, sf_dir):
    """The content/label/metadata op logs describe ONE write history:
    their live membership (rid sets) coincides at every cut — the
    fixture semantics (each resource-update event touches all planes)
    that makes the mixed-plane LEFT join equal to an inner join
    today. The api uses the left join because the SEMANTICS require
    Or-across-planes to stay answerable if a deployment's plane logs
    ever diverge; this pin documents that this corpus model's don't."""
    from nucliadb_spark import api as _api  # noqa: F401 (symmetry anchor)

    fields = tpch.fields(spark, sf_dir)
    for seq in (300, 999_999, 1_500_000, 3_000_000):
        content = {
            r.rid
            for r in ingest.CONTENT.resolve(
                ingest.cdc_log(fields).filter(F.col("seq") <= seq)
            ).select("rid").collect()
        }
        labels = {
            r.rid
            for r in ingest.LABELS.resolve(
                ingest.cdc_label_log(fields.select("rid", "labels")).filter(
                    F.col("seq") <= seq
                )
            ).select("rid").collect()
        }
        meta = {
            r.rid
            for r in _meta_at(spark, sf_dir, seq).select("rid").collect()
        }
        assert content == labels == meta, seq


def test_catalog_asof_secured_lockdown_bites(spark, sf_dir):
    """The catalog's security-at-a-snapshot read counts strictly
    fewer facet holders than the unfiltered as-of read (the lockdown
    wave is below the seq, so rid%7 resources' facets vanish), and
    the result is non-empty."""
    from nucliadb_spark.plans.queries_streaming import (
        catalog_facets_as_of,
        catalog_facets_as_of_secured,
    )

    secured = {
        (r.root, r.facet): r.count_
        for r in catalog_facets_as_of_secured(spark, sf_dir).collect()
    }
    unfiltered = {
        (r.root, r.facet): r.count_
        for r in catalog_facets_as_of(spark, sf_dir).collect()
    }
    assert secured
    assert sum(secured.values()) < sum(
        unfiltered[k] for k in secured if k in unfiltered
    )
    assert all(
        secured[k] <= unfiltered[k] for k in secured if k in unfiltered
    )
