"""The oracle-handoff memo (round 5): one write per process per path.

Every scene-family query construction used to rewrite its handoff
parquet (full job per query build). The memo must (a) skip the rewrite
on a second call in the same process, (b) still hand back the same
read-back frame, and (c) rewrite when the on-disk artifact vanished
(stale-disk safety is per-path existence, not set membership alone).
"""

from __future__ import annotations

import os
import shutil

import __spark_entry__ as entry_mod


def _success_mtime(path: str) -> float:
    return os.path.getmtime(os.path.join(path, "_SUCCESS"))


def test_handoff_writes_once_per_process_and_recovers_deletion(spark, tmp_path):
    sf_dir = str(tmp_path / "sfunit")
    os.makedirs(sf_dir)
    df = spark.range(50).withColumnRenamed("id", "v")
    path = f"{entry_mod._oracle_dir(sf_dir)}/memo_probe.parquet"
    shutil.rmtree(path, ignore_errors=True)
    entry_mod._HANDOFF_WRITTEN.discard(path)

    out1 = entry_mod._handoff(df, "memo_probe", sf_dir)
    assert out1.count() == 50
    m1 = _success_mtime(path)

    out2 = entry_mod._handoff(df, "memo_probe", sf_dir)
    assert out2.count() == 50
    assert _success_mtime(path) == m1, "second call must not rewrite"

    # external deletion: the memo set still holds the path, but the
    # artifact is gone — the next call must write again
    shutil.rmtree(path)
    out3 = entry_mod._handoff(df, "memo_probe", sf_dir)
    assert out3.count() == 50
    assert os.path.exists(os.path.join(path, "_SUCCESS"))

    shutil.rmtree(path, ignore_errors=True)
    entry_mod._HANDOFF_WRITTEN.discard(path)


def test_handoff_of_in_memory_frame_writes_full_width(spark, tmp_path):
    """A frame with no input files has no known source size; the
    handoff must not collapse it to one file (one scan task)."""
    sf_dir = str(tmp_path / "sfmem")
    os.makedirs(sf_dir)
    df = spark.createDataFrame([(i,) for i in range(200)], "v long")
    assert df.inputFiles() == []
    path = f"{entry_mod._oracle_dir(sf_dir)}/mem_probe.parquet"
    shutil.rmtree(path, ignore_errors=True)
    entry_mod._HANDOFF_WRITTEN.discard(path)

    out = entry_mod._handoff(df, "mem_probe", sf_dir)
    assert out.count() == 200
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == min(200, spark.sparkContext.defaultParallelism) > 1

    shutil.rmtree(path, ignore_errors=True)
    entry_mod._HANDOFF_WRITTEN.discard(path)
