"""``write_transcripts_parquet`` caches a dataset under a layout marker;
rewriting it under a new layout must not leave shards of the old one."""

import pandas as pd
import pytest

from dataflow_spark.datagen import write_transcripts_parquet


@pytest.mark.parametrize("files_before,files_after", [(4, 2), (2, 1)])
def test_relayout_to_fewer_files_drops_stale_shards(tmp_path, files_before, files_after):
    path = str(tmp_path / "src")
    write_transcripts_parquet(path, n_turns=300, seed=5, n_files=files_before)
    write_transcripts_parquet(path, n_turns=300, seed=5, n_files=files_after)
    got = pd.read_parquet(path)
    assert len(got) == 300
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
