"""Vacuum-aware as-of SERVING (r13): oplog_vacuum_report proved the
fold-at-horizon algebra; these pin the serving integration —
ingest.asof_from_vacuum routes reads at seq >= horizon through
(base_state, retained_log) via advance_live_state and REFUSES reads
below the horizon with a clear pinned-snapshot error instead of
silently resolving an incomplete log. The horizon travels WITH the
(base, retained) pair (VacuumedLog), so a serving call can never pair
them with a wrong horizon."""

import pytest
from pyspark.sql import functions as F

from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest

HORIZON = 999_999  # the 'base' snapshot point: initial upserts only


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_vacuumed_serving_equals_full_log_content(spark, sf_dir):
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    vac = ingest.vacuum_op_log(log, HORIZON, ingest.CONTENT.resolve)
    assert vac.horizon == HORIZON
    for seq in (1_500_000, 3_000_000):
        served = ingest.asof_from_vacuum(
            vac, seq, ingest.CONTENT.keys, ingest.CONTENT.resolve
        )
        full = ingest.cdc_live_as_of(log, seq)
        assert _rows(served) == _rows(full)


def test_vacuumed_serving_at_exactly_the_horizon(spark, sf_dir):
    """seq == horizon is legal (the retained delta is empty) and
    equals the base state itself."""
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    vac = ingest.vacuum_op_log(log, HORIZON, ingest.CONTENT.resolve)
    served = ingest.asof_from_vacuum(
        vac, HORIZON, ingest.CONTENT.keys, ingest.CONTENT.resolve
    )
    assert _rows(served) == _rows(vac.base)


def test_vacuumed_serving_below_horizon_raises(spark, sf_dir):
    """A read below the horizon must raise the pinned-snapshot error
    — the history that distinguished that snapshot was discarded, and
    resolving the retained log alone would silently return a partial
    (wrong) state."""
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    vac = ingest.vacuum_op_log(log, HORIZON, ingest.CONTENT.resolve)
    with pytest.raises(ValueError, match="vacuum horizon"):
        ingest.asof_from_vacuum(
            vac, 500_000, ingest.CONTENT.keys, ingest.CONTENT.resolve
        )


def test_vacuumed_serving_equals_full_log_vectors_and_labels(spark, sf_dir):
    """The same contract across other CDC families — the algebra is
    family-generic (keys + resolve), so serving must be too."""
    vlog = ingest.cdc_vector_log(tpch.vectors(spark, sf_dir))
    vvac = ingest.vacuum_op_log(vlog, HORIZON, ingest.VECTORS.resolve)
    served = ingest.asof_from_vacuum(
        vvac, 1_500_000, ingest.VECTORS.keys, ingest.VECTORS.resolve
    )
    assert _rows(served) == _rows(
        ingest.VECTORS.resolve(vlog.filter(F.col("seq") <= 1_500_000))
    )

    llog = ingest.cdc_label_log(
        tpch.fields(spark, sf_dir).select("rid", "labels")
    )
    lvac = ingest.vacuum_op_log(llog, HORIZON, ingest.LABELS.resolve)
    served_l = ingest.asof_from_vacuum(
        lvac, 1_500_000, ingest.LABELS.keys, ingest.LABELS.resolve
    )
    assert _rows(served_l) == _rows(
        ingest.LABELS.resolve(llog.filter(F.col("seq") <= 1_500_000))
    )
