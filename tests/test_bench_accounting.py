"""BENCH row accounting: stamped rows must decompose exactly —
row total == Σ constituents (round-7 verdict Next #2). bench.main also
asserts the invariant at runtime on every published row; this pins the
helper's arithmetic without paying for a full bench run, and checks the
stamps of the two suites that the oracle gate runs down the stamped
path the bench takes."""

import pytest

import bench


def test_close_stamps_overhead_closes_the_row():
    stamps = {"a": 1.234, "b": 0.5}
    total = bench.close_stamps(stamps, 2.0)
    assert stamps["overhead"] == pytest.approx(0.266, abs=1e-9)
    assert total == pytest.approx(sum(stamps.values()), abs=1e-9)
    assert total == pytest.approx(2.0, abs=1e-3)


def test_close_stamps_clamps_negative_remainder():
    # stamp rounding can overshoot the elapsed wall by < 1 ms — the
    # overhead clamps at zero and the total stays Σ constituents
    stamps = {"a": 1.0}
    total = bench.close_stamps(stamps, 0.9996)
    assert stamps["overhead"] == 0.0
    assert total == pytest.approx(1.0, abs=1e-9)


def test_close_stamps_empty_row_is_all_overhead():
    stamps = {}
    total = bench.close_stamps(stamps, 0.75)
    assert stamps == {"overhead": 0.75}
    assert total == pytest.approx(0.75, abs=1e-9)


@pytest.mark.parametrize(
    "name, keys",
    [
        # _widen: one stamp per cross-joined 1-row constituent
        ("m1_custom_solvers", {"box", "tron", "prior", "byjoin"}),
        # build stamps, x22's phase stamps and the split_build residual
        (
            "x21_chunk_split",
            {
                "chunk_build", "split_pairs", "split_cluster", "split_build",
                "bpe_build", "unigram_build",
                "chunk", "split", "bpe", "unigram",
            },
        ),
    ],
)
def test_stamped_suite_matches_gate_run(spark, name, keys):
    """The bench's stamped run of these suites
    (``test_oracle.stamped_run``, whose rows the oracle checks beside
    the plain run's) stamps exactly its named blocks."""
    from test_oracle import stamped_run

    stamps = stamped_run(spark, name)[1]
    assert set(stamps) == keys
    assert all(v >= 0 for v in stamps.values())
