"""Kernel-timing inputs: the sample keeps the pages whose cost differs."""

import kernels


def test_sample_reaches_table_and_heavy_pages_at_any_offset():
    from docling_eval_spark.corpus.html_synth import has_table, is_heavy

    for offset in range(5):
        rows = list(range(offset, offset + 3000))
        sample = kernels._sample(rows)
        assert len(sample) == kernels.SAMPLE == len(set(sample))
        assert sample == sorted(sample)
        assert 0.1 < sum(map(has_table, sample)) / len(sample) < 0.3
    rows = list(range(100_000))
    assert any(is_heavy(r) for r in kernels._sample(rows))
