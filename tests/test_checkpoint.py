"""Resume-from-checkpoint kill tests (north_rule resumability)."""
from __future__ import annotations

import tempfile

import pytest

from jsonld_js_spark.pipeline import transcript_triples
from jsonld_js_spark.pipeline.checkpoint import (
    Ledger, read_committed, run_checkpointed_triples,
)
from jsonld_js_spark.transcripts import transcripts_df

N_CONV = 60
N_BUCKETS = 6


class _Kill(Exception):
    pass


@pytest.fixture()
def transcripts(spark):
    return transcripts_df(spark, n_conv=N_CONV)


def test_kill_and_resume_exactly_once(spark, transcripts, tmp_path):
    wh = str(tmp_path / "wh")

    # run that dies after 2 committed partitions
    killed_after = []

    def killer(k):
        killed_after.append(k)
        if len(killed_after) == 2:
            raise _Kill()

    with pytest.raises(_Kill):
        run_checkpointed_triples(spark, transcripts, wh,
                                 n_buckets=N_BUCKETS, on_bucket_done=killer)
    assert len(Ledger(wh, "triples").committed()) == 2

    # resume: must skip the 2 committed partitions, run the rest
    stats = run_checkpointed_triples(spark, transcripts, wh,
                                     n_buckets=N_BUCKETS)
    assert stats["skipped"] == 2
    assert stats["ran"] == N_BUCKETS - 2

    # no loss, no duplication vs the single-pass run
    resumed = {tuple(r) for r in read_committed(spark, wh).collect()}
    single = {tuple(r) for r in transcript_triples(transcripts).collect()}
    assert resumed == single
    total_rows = read_committed(spark, wh).count()
    assert total_rows == len(single), "duplicated rows after resume"

    # lineage metrics rows exist for every partition
    metrics = Ledger(wh, "triples").metrics()
    assert len(metrics) == N_BUCKETS
    assert all(m["rows_out"] > 0 and m["wall_s"] >= 0 for m in metrics)
    assert sum(m["rows_out"] for m in metrics) == total_rows


def test_rerun_is_noop(spark, transcripts, tmp_path):
    wh = str(tmp_path / "wh")
    run_checkpointed_triples(spark, transcripts, wh, n_buckets=N_BUCKETS)
    stats = run_checkpointed_triples(spark, transcripts, wh,
                                     n_buckets=N_BUCKETS)
    assert stats["ran"] == 0 and stats["skipped"] == N_BUCKETS


def test_kernel_path_checkpoint_matches(spark, transcripts, tmp_path):
    """The generic kernel path is checkpoint/resume-capable too and
    commits the same triple set as the vectorized path."""
    wh = str(tmp_path / "whk")
    run_checkpointed_triples(spark, transcripts, wh,
                             n_buckets=3, use_kernel_path=True)
    got = {tuple(r) for r in read_committed(spark, wh).collect()}
    want = {tuple(r) for r in transcript_triples(transcripts).collect()}
    assert got == want


def test_partial_write_without_marker_is_redone(spark, transcripts,
                                                tmp_path):
    """A kill between the data write and the lineage-marker rename
    leaves an unmarked partial directory: resume must overwrite it and
    commit exactly-once output (no duplicates from the partial)."""
    import os
    import shutil

    wh = str(tmp_path / "wh")
    run_checkpointed_triples(spark, transcripts, wh, n_buckets=N_BUCKETS)
    # simulate: partition 3's marker lost, data dir left partial
    os.remove(os.path.join(wh, "_lineage", "triples", "3.json"))
    part_dir = os.path.join(wh, "triples", "part_id=3")
    # corrupt the partial dir (as an interrupted write would)
    for f in os.listdir(part_dir)[:1]:
        os.remove(os.path.join(part_dir, f))
    stats = run_checkpointed_triples(spark, transcripts, wh,
                                     n_buckets=N_BUCKETS)
    assert stats["ran"] == 1
    got = {tuple(r) for r in read_committed(spark, wh).collect()}
    want = {tuple(r) for r in transcript_triples(transcripts).collect()}
    assert got == want
