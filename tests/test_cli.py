"""CLI driver round trip: train on sf0.001, score with the saved
model + dictionary, check outputs."""

import json
import os

import pytest
from pyspark.sql import functions as F

from photon_ml_spark import cli
from photon_ml_spark.sources import datasets


def test_cli_train_then_score(spark, sf_dir, tmp_path, capsys):
    inp = str(tmp_path / "input.parquet")
    datasets.lineitem_training_frame(spark, sf_dir).write.parquet(inp)
    model_dir = str(tmp_path / "model")
    scores_dir = str(tmp_path / "scores")

    train_cfg = {
        "input": inp,
        "feature_bags": ["features"],
        "coordinates": [
            {"name": "global", "kind": "fixed"},
            {"name": "per_supplier", "kind": "random",
             "entity_col": "suppkey", "reg_param": 1.0, "min_samples": 5},
        ],
        "family": "binomial",
        "n_iterations": 1,
        "output_dir": model_dir,
    }
    cli.train(train_cfg, spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "trained" and out["updates"] == 2

    cli.score(
        {"input": inp, "model_dir": model_dir, "output_dir": scores_dir,
         "output_files_limit": 1},
        spark,
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "scored"

    scored = spark.read.parquet(scores_dir)
    assert {"score", "prediction"} <= set(scored.columns)
    n_in = spark.read.parquet(inp).count()
    stats = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("prediction").alias("lo"), F.max("prediction").alias("hi"),
    ).first()
    assert stats.n == n_in and 0.0 <= stats.lo <= stats.hi <= 1.0
    # T6: single output file requested
    import glob
    assert len(glob.glob(f"{scores_dir}/part-*")) == 1


def test_cli_train_from_avro(spark, sf_dir, tmp_path, capsys):
    """Migration-user path: the training input is TrainingExampleAvro
    files on disk, consumed directly by the train driver."""
    from photon_ml_spark.sources.avro_io import write_training_examples

    inp = str(tmp_path / "training_avro")
    frame = datasets.lineitem_training_frame(spark, sf_dir).select(
        F.col("uid").cast("string").alias("uid"),
        "response", "weight", "offset", "features",
    )
    write_training_examples(frame, inp)
    model_dir = str(tmp_path / "model_avro")
    cli.train(
        {
            "input": inp,
            "input_format": "avro",
            "feature_bags": ["features"],
            "coordinates": [
                {"name": "global", "kind": "fixed", "solver": "tron",
                 "reg_param": 1.0},
            ],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": model_dir,
        },
        spark,
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "trained" and out["updates"] == 1

    # migration-user SCORING path: the reference's ResponsePrediction
    # scoring-input format (no uid — the driver assigns one)
    from photon_ml_spark.sources.avro_io import write_response_predictions

    score_in = str(tmp_path / "resp_pred_avro")
    write_response_predictions(frame, score_in)
    scores_dir = str(tmp_path / "scores_from_avro")
    cli.score(
        {
            "input": score_in,
            "input_format": "response_prediction_avro",
            "feature_bags": ["features"],
            "model_dir": model_dir,
            "output_dir": scores_dir,
        },
        spark,
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "scored"
    scored = spark.read.parquet(scores_dir)
    assert scored.count() == frame.count()
    assert {"uid", "score", "prediction"} <= set(scored.columns)


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    """Full curation driver: quality filter -> exact dedup -> LSH
    near-dedup -> contamination drop -> leakage-safe split -> chunk."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    ev = str(tmp_path / "eval.parquet")
    docs.filter(F.col("doc_id") % 10 == 0).write.parquet(ev)
    out_dir = str(tmp_path / "curated")

    cli.curate(
        {
            "input": inp,
            "output_dir": out_dir,
            "quality": {"min_tokens": 3, "max_ppl": 1e9},
            "exact_dedup": True,
            "near_dedup": {"threshold": 0.5, "n": 2},
            "contamination": {"eval_input": ev, "ngram": 3,
                              "min_shared": 20},
            "split": {"test_frac": 0.2},
            "chunk": {"max_tokens": 64, "overlap": 8},
            "report": True,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "curated"
    r = rep["report"]
    assert r["input"] >= r["after_quality"] >= r["after_exact_dedup"] \
        >= r["after_contamination"] > 0
    train = spark.read.parquet(f"{out_dir}/train")
    test = spark.read.parquet(f"{out_dir}/test")
    assert {"doc_id", "chunk_id", "chunk_tokens", "chunk_text"} \
        <= set(train.columns)
    assert train.count() == r["out_train"] > 0
    assert test.count() == r["out_test"] > 0
    # chunking respects the window size
    assert train.agg(F.max("chunk_tokens")).first()[0] <= 64
    # leakage safety: no doc appears on both sides
    both = train.select("doc_id").intersect(test.select("doc_id"))
    assert both.count() == 0
    # data cards: input card covers the raw corpus, output card the
    # surviving docs (duplicate mass shrinks, never grows)
    card_in = spark.read.parquet(f"{out_dir}/report/input")
    card_out = spark.read.parquet(f"{out_dir}/report/output")
    assert {"n_docs", "n_tokens", "n_unique_docs", "n_pii_docs",
            "dup_doc_frac"} <= set(card_in.columns)
    assert card_in.agg(F.sum("n_docs")).first()[0] == r["input"]
    assert card_out.agg(F.sum("n_docs")).first()[0] \
        == r["after_contamination"]


def test_cli_curate_select_and_oversample(spark, tmp_path, capsys):
    """Round-3 stages: trigram-novelty floor, DSIR selection toward a
    target language, and UniMax oversampling to target shares."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    out_dir = str(tmp_path / "curated")
    shares = {s: 1.0 for s in
              [r.source for r in docs.select("source").distinct().collect()]}

    cli.curate(
        {
            "input": inp,
            "output_dir": out_dir,
            "quality": {"min_tokens": 3, "min_novelty": 0.0},
            "select": {"target_lang": "zh", "k": 20},
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["report"]["after_select"] == 20
    assert spark.read.parquet(f"{out_dir}/docs").count() == 20

    cli.curate(
        {
            "input": inp,
            "output_dir": out_dir,
            "mix": {"shares": shares, "mode": "oversample",
                    "max_epochs": 2.0},
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    r = rep["report"]
    assert r["after_mix"] >= r["input"]  # oversampling repeats rows
    out = spark.read.parquet(f"{out_dir}/docs")
    assert "copy_idx" in out.columns and out.count() == r["after_mix"]

    # blocklist: no surviving doc contains a blocked token
    cli.curate(
        {
            "input": inp,
            "output_dir": out_dir,
            "quality": {"blocked_terms": ["spark", "window"]},
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out = spark.read.parquet(f"{out_dir}/docs")
    assert out.count() == rep["report"]["after_quality"] > 0
    assert out.filter(
        F.col("text").rlike(r"(^| )(spark|window)( |$)")
    ).count() == 0

    with pytest.raises(ValueError, match="oversample"):
        cli.curate(
            {
                "input": inp,
                "output_dir": out_dir,
                "mix": {"shares": shares, "mode": "oversample"},
                "split": {"test_frac": 0.2},
            },
            spark,
        )


def test_cli_curate_stream(spark, tmp_path, capsys):
    """curate-stream drains the backlog through the incremental index
    and reports the survivor count."""
    import glob as _glob
    import shutil

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    tmp = str(tmp_path / "one")
    docs.coalesce(1).write.parquet(tmp)
    shutil.copyfile(
        _glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/batch0.parquet"
    )
    cfgp = str(tmp_path / "cfg.json")
    with open(cfgp, "w") as f:
        json.dump(
            {
                "input_dir": src,
                "schema": "doc_id long, source string, lang string, "
                          "text string",
                "index_path": str(tmp_path / "index"),
                "output_dir": str(tmp_path / "out"),
                "checkpoint_dir": str(tmp_path / "ckpt"),
                "threshold": 0.5,
                "n": 2,
            },
            f,
        )
    cli.curate_stream(json.load(open(cfgp)), spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "curated-stream"
    assert 0 < rep["survivors"] < docs.count()
    idx = spark.read.parquet(str(tmp_path / "index" / "signatures"))
    assert idx.count() == rep["survivors"]


@pytest.mark.parametrize("kind", ["bpe", "unigram"])
def test_cli_curate_tokenize_stage(spark, tmp_path, capsys, kind):
    """The tokenize stage trains on the TRAIN side only, persists the
    artifact, and attaches a tokens column to both outputs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    out_dir = str(tmp_path / f"curated_{kind}")

    cli.curate(
        {
            "input": inp,
            "output_dir": out_dir,
            "near_dedup": {"threshold": 0.5, "n": 2},
            "split": {"test_frac": 0.2},
            "chunk": {"max_tokens": 64, "overlap": 0},
            "tokenize": {
                "kind": kind, "n_merges": 16, "vocab_size": 48,
            },
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "curated"
    art = "merges" if kind == "bpe" else "vocab"
    stored = spark.read.parquet(f"{out_dir}/tokenizer/{art}")
    assert stored.count() > 0
    if kind == "bpe":
        assert rep["report"]["tokenizer_merges"] == stored.count()
    else:
        assert rep["report"]["tokenizer_pieces"] == stored.count()
    for side in ("train", "test"):
        t = spark.read.parquet(f"{out_dir}/{side}")
        assert "tokens" in t.columns
        row = t.filter(F.col("tokens").isNotNull()).first()
        assert row is not None and len(row.tokens) > 0
        # tokens reconstruct the chunk's word stream (both tokenizers
        # segment within words, never across)
        joined = "".join(row.tokens)
        src = "".join(
            w for w in row.chunk_text.lower().split()
            if w.isalnum() and joined  # word_pattern filters non-alnum
        )
        # unigram may drop unencodable words; bpe keeps filtered words
        assert joined and all(p in src for p in (joined[:4],))


def test_cli_curate_stream_quality_prefilter(spark, tmp_path, capsys):
    """The stateless quality pre-filter drops short/low-quality docs
    BEFORE the dedup sink — survivors all satisfy the floor, and the
    count is below the unfiltered run's."""
    import glob as _glob
    import shutil

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    tmp = str(tmp_path / "one")
    docs.coalesce(1).write.parquet(tmp)
    shutil.copyfile(
        _glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/batch0.parquet"
    )
    cfg = {
        "input_dir": src,
        "schema": "doc_id long, source string, lang string, text string",
        "index_path": str(tmp_path / "index_q"),
        "output_dir": str(tmp_path / "out_q"),
        "checkpoint_dir": str(tmp_path / "ckpt_q"),
        "quality": {"min_tokens": 12},
        "threshold": 0.5,
        "n": 2,
    }
    cli.curate_stream(cfg, spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out = spark.read.parquet(cfg["output_dir"])
    from photon_ml_spark.operators.text import token_count

    assert rep["survivors"] == out.count() > 0
    assert out.filter(token_count(F.col("text")) < 12).count() == 0
    # strictly fewer than the corpus has docs with >= 12 tokens is not
    # guaranteed (dedup also drops), but the filter must have bitten:
    n_short = docs.filter(token_count(F.col("text")) < 12).count()
    assert n_short > 0  # the corpus genuinely contains short docs


def test_cli_curate_reports_stage_timings(spark, tmp_path, capsys):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    cli.curate(
        {
            "input": inp,
            "output_dir": str(tmp_path / "out"),
            "quality": {"min_tokens": 3},
            "exact_dedup": True,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    t = rep["timings"]
    assert set(t) == {"input", "quality", "exact_dedup", "out_docs"}
    assert all(v >= 0 for v in t.values())


def test_cli_train_sweep_and_output_modes(spark, tmp_path, capsys):
    """Explicit reg-weight sweep + T8 selection + ModelOutputMode
    parity: 'all' writes every swept model plus the best; the best is
    the sweep entry with the better primary metric."""
    docs = None  # noqa: F841 (fixture-free test)
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    inp = str(tmp_path / "train_in.parquet")
    va = str(tmp_path / "train_va.parquet")
    training.filter(F.col("uid") % 3 != 0).write.parquet(inp)
    training.filter(F.col("uid") % 3 == 0).write.parquet(va)
    out = str(tmp_path / "swept_model")
    base_cfg = {
        "input": inp,
        "feature_bags": ["features"],
        "coordinates": [{"name": "global", "kind": "fixed"}],
        "family": "binomial",
        "n_iterations": 1,
        "output_dir": out,
        "reg_param_sweep": [{"global": 0.01}, {"global": 1000.0}],
        "output_mode": "all",
    }
    # selection without held-out data would always pick the weakest
    # regularization — refused
    with pytest.raises(ValueError, match="validation_input"):
        cli.train(dict(base_cfg), spark)
    capsys.readouterr()
    from photon_ml_spark import events as _ev

    listener = _ev.CollectingListener()
    cli.train({**base_cfg, "validation_input": va}, spark, listeners=[listener])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["sweep"]) == 2
    metrics = [e["metric"] for e in rep["sweep"]]
    assert rep["best"]["metric"] == max(metrics)
    # Driver.scala parity: one OptimizationLogEvent per sweep entry, a
    # ModelSelectionEvent for the winner, and the listener is close()d
    # at job end (clear_listeners in the train finally block)
    logs = [e for e in listener.events if isinstance(e, _ev.OptimizationLogEvent)]
    sels = [e for e in listener.events if isinstance(e, _ev.ModelSelectionEvent)]
    assert [e.index for e in logs] == [0, 1]
    assert [e.metric for e in logs] == metrics
    assert len(sels) == 1 and sels[0].index == rep["best"]["index"]
    assert listener.closed
    for i in range(2):
        assert os.path.exists(f"{out}/models/{i}/metadata.json")
    assert os.path.exists(f"{out}/metadata.json")  # the best model

    # a sweep entry naming an unknown coordinate is a typo that would
    # otherwise train N identical models — refused up front
    with pytest.raises(ValueError, match="unknown coordinate"):
        cli.train(
            {
                **base_cfg,
                "validation_input": va,
                "reg_param_sweep": [{"global": 0.01}, {"globl": 1000.0}],
            },
            spark,
        )
    capsys.readouterr()

    # output_mode=none writes no model, but per_group_evaluation still
    # runs (evaluate-without-persisting) and lands under output_dir
    out2 = str(tmp_path / "none_model")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out2,
            "output_mode": "none",
            "per_group_evaluation": {"group_col": "suppkey"},
        },
        spark,
    )
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not os.path.exists(f"{out2}/metadata.json")
    assert spark.read.parquet(rep2["group_evaluation"]).count() > 1


def test_cli_train_per_group_evaluation(spark, tmp_path, capsys):
    """savePerGroupEvaluationResult parity: per-group AUC of the saved
    model lands beside it."""
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    inp = str(tmp_path / "pge_in.parquet")
    training.write.parquet(inp)
    out = str(tmp_path / "pge_model")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out,
            "per_group_evaluation": {"group_col": "suppkey"},
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    pg = spark.read.parquet(rep["group_evaluation"])
    rows = pg.collect()
    assert len(rows) > 1
    assert all(0.0 <= r.auc <= 1.0 for r in rows)


def test_cli_curate_near_dedup_lsh_shape(spark, tmp_path, capsys,
                                         monkeypatch):
    """Full-mode near dedup hands ``near_dedup.num_hashes``/``bands`` to
    the LSH banding, as the incremental flow does."""
    from photon_ml_spark.operators import dedup

    seen = []
    real = dedup.lsh_candidate_pairs

    def spy(signatures, id_col="doc_id", num_hashes=16, bands=4):
        seen.append((num_hashes, bands))
        return real(signatures, id_col, num_hashes, bands)

    monkeypatch.setattr(dedup, "lsh_candidate_pairs", spy)
    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),   # near-dup of 1
            (3, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    out = str(tmp_path / "curated")
    cli.curate(
        {
            "input": inp,
            "output_dir": out,
            "near_dedup": {"threshold": 0.5, "n": 1, "num_hashes": 8,
                           "bands": 8},
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert seen == [(8, 8)]
    assert rep["report"]["after_near_dedup"] == 2
    assert {r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()} \
        == {1, 3}


def test_cli_curate_incremental_index_mode(spark, tmp_path, capsys):
    """Batch curate with near_dedup.index_path: run 1 (batch 0)
    bootstraps the shared persisted index; run 2 (batch 1) drops docs
    near-duplicate to run 1's SURVIVORS without rescanning them
    (first-seen-wins across daily runs), keeps its novel docs, and
    extends the index; a replayed batch id with different input is
    refused; split composition is rejected up front."""
    import pytest as _pytest

    idx = str(tmp_path / "index")

    def run(rows, out_name, batch_id):
        inp = str(tmp_path / f"in_{out_name}.parquet")
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(inp)
        out = str(tmp_path / out_name)
        cli.curate(
            {
                "input": inp,
                "output_dir": out,
                "near_dedup": {
                    "threshold": 0.5, "n": 1,
                    "index_path": idx, "batch_id": batch_id,
                },
            },
            spark,
        )
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return rep, {
            r.doc_id for r in spark.read.parquet(f"{out}/docs").collect()
        }

    day0 = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),     # near-dup of 1 -> dropped
        (3, "completely unrelated words here"),
    ]
    rep0, ids0 = run(day0, "day0", 0)
    assert ids0 == {1, 3}
    assert rep0["report"]["after_near_dedup"] == 2

    day1 = [
        (11, "alpha beta gamma delta epsilon eta"),  # near-dup of INDEXED 1
        (12, "fresh novel content for day one"),
        (13, "fresh novel content for day two"),     # near-dup of 12 (batch-internal)
    ]
    rep1, ids1 = run(day1, "day1", 1)
    assert 11 not in ids1          # dropped against the STORED index
    assert ids1 == {12}            # 13 lost the batch-internal cluster
    # the index gained batch=1 state for the next run
    sigs = spark.read.parquet(f"{idx}/signatures")
    assert {r.batch for r in sigs.select("batch").distinct().collect()} \
        == {0, 1}

    # replaying batch 1 with DIFFERENT content is refused (id collision)
    with _pytest.raises(Exception, match="already published"):
        run([(21, "anything else")], "day1b", 1)

    # incremental mode cannot feed split (needs full cluster structure)
    with _pytest.raises(ValueError, match="incremental"):
        cli.curate(
            {
                "input": str(tmp_path / "in_day0.parquet"),
                "output_dir": str(tmp_path / "bad"),
                "near_dedup": {"index_path": idx, "batch_id": 5},
                "split": {"test_frac": 0.2},
            },
            spark,
        )

    # a replay of a PUBLISHED batch id with identical input but a NEW
    # output_dir is refused with a clear error (its survivors were
    # staged under the original output_dir), not an AnalysisException
    inp1 = str(tmp_path / "in_day1.parquet")
    with _pytest.raises(ValueError, match="DIFFERENT.*output_dir"):
        cli.curate(
            {
                "input": inp1,
                "output_dir": str(tmp_path / "elsewhere"),
                "near_dedup": {
                    "threshold": 0.5, "n": 1,
                    "index_path": idx, "batch_id": 1,
                },
            },
            spark,
        )
    capsys.readouterr()

    # an upstream-emptied batch flows through as zero survivors
    # instead of crashing on a missing staged path
    empty_in = str(tmp_path / "in_empty.parquet")
    spark.createDataFrame(
        [(31, "a b")], "doc_id long, text string"
    ).write.parquet(empty_in)
    cli.curate(
        {
            "input": empty_in,
            "output_dir": str(tmp_path / "day_empty"),
            "quality": {"min_tokens": 50},  # drops the only doc
            "near_dedup": {
                "threshold": 0.5, "n": 1,
                "index_path": idx, "batch_id": 3,
            },
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["report"]["after_near_dedup"] == 0
    assert rep["report"]["out_docs"] == 0


def test_cli_unknown_config_keys_fail_fast(spark, tmp_path):
    """A typo'd top-level config key must raise up front, naming the
    offender — silently skipping the stage it meant to configure is the
    classic config failure mode."""
    with pytest.raises(ValueError, match="near_dedups"):
        cli.curate(
            {"input": "x", "output_dir": "y",
             "near_dedups": {"threshold": 0.5}},
            spark,
        )
    with pytest.raises(ValueError, match="validaton_input"):
        cli.train(
            {"input": "x", "output_dir": "y", "coordinates": [],
             "validaton_input": "oops"},
            spark,
        )
    with pytest.raises(ValueError, match="output_file_limit"):
        cli.score(
            {"input": "x", "model_dir": "m", "output_dir": "y",
             "output_file_limit": 1},
            spark,
        )
    with pytest.raises(ValueError, match="tresh"):
        cli.curate_stream(
            {"input_dir": "x", "schema": "doc_id long", "index_path": "i",
             "output_dir": "o", "checkpoint_dir": "c", "tresh": 0.5},
            spark,
        )
    # nested stage dicts: same typo class one level down
    with pytest.raises(ValueError, match="min_token"):
        cli.curate(
            {"input": "x", "output_dir": "y",
             "quality": {"min_token": 5}},
            spark,
        )
    with pytest.raises(ValueError, match="reg_params"):
        cli.train(
            {"input": "x", "output_dir": "y",
             "coordinates": [{"name": "g", "kind": "fixed",
                              "reg_params": 1.0}]},
            spark,
        )


def test_index_then_train_with_dictionary_input(spark, tmp_path, capsys):
    """The offline feature-indexing driver (FeatureIndexingDriver
    parity) builds a reusable dictionary; train consumes it via
    dictionary_input (skipping its own dictionary job and freezing the
    feature space), and the model scores end to end. The
    selected_features allowlist narrows the dictionary to the listed
    keys (+ intercept)."""
    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    inp = str(tmp_path / "idx_in.parquet")
    training.write.parquet(inp)

    idx_out = str(tmp_path / "index_out")
    cli.index(
        {"input": inp, "feature_bags": ["features"], "output_dir": idx_out},
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "indexed"
    d = spark.read.parquet(f"{idx_out}/feature-dictionary")
    assert rep["n_features"] == d.count() > 1
    # dense contiguous ids, intercept last
    rows = sorted(
        d.collect(), key=lambda r: r.feature_index
    )
    assert [r.feature_index for r in rows] == list(range(len(rows)))
    assert rows[-1].feature_key == "(INTERCEPT)"

    model_out = str(tmp_path / "idx_model")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": model_out,
            "dictionary_input": idx_out,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "trained"
    # the persisted model dictionary IS the offline one (same keys/ids)
    saved = spark.read.parquet(f"{model_out}/feature-dictionary")
    assert sorted(map(tuple, saved.collect())) == sorted(
        map(tuple, d.collect())
    )
    score_out = str(tmp_path / "idx_scores")
    cli.score(
        {
            "input": inp,
            "feature_bags": ["features"],
            "model_dir": model_out,
            "output_dir": score_out,
        },
        spark,
    )
    assert spark.read.parquet(score_out).count() == training.count()

    # selected-features allowlist: only the listed keys (+ intercept)
    allow = str(tmp_path / "allow.parquet")
    d.filter("feature_key LIKE '%qty%'").select("feature_key").write.parquet(allow)
    idx2 = str(tmp_path / "index_narrow")
    cli.index(
        {
            "input": inp,
            "feature_bags": ["features"],
            "output_dir": idx2,
            "selected_features": allow,
        },
        spark,
    )
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["n_features"] == 2  # the one qty key + intercept

    # fail-fast on a typo'd key, same as every other driver
    with pytest.raises(ValueError, match="unknown key"):
        cli.index(
            {"input": inp, "output_dirs": idx_out}, spark
        )


def test_score_with_evaluators(spark, tmp_path, capsys):
    """The score driver's `evaluators` config computes the requested
    reference-named metrics on the scored data (offset-inclusive
    margin vs response) and reports them — GameScoringDriver's
    validationEvaluators flow. Unknown names and label-less inputs
    fail fast."""
    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    inp = str(tmp_path / "ev_in.parquet")
    training.write.parquet(inp)
    model_out = str(tmp_path / "ev_model")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": model_out,
        },
        spark,
    )
    capsys.readouterr()
    score_out = str(tmp_path / "ev_scores")
    cli.score(
        {
            "input": inp,
            "feature_bags": ["features"],
            "model_dir": model_out,
            "output_dir": score_out,
            "evaluators": [
                "AUC", "aupr", "RMSE", "LOGISTIC_LOSS",
                "PRECISION@5:suppkey" if "suppkey" in training.columns
                else "AUC",
            ],
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ev = rep["evaluation"]
    assert 0.0 <= ev["AUC"] <= 1.0
    assert 0.0 <= ev["aupr"] <= 1.0
    assert ev["RMSE"] > 0.0
    assert ev["LOGISTIC_LOSS"] > 0.0

    with pytest.raises(ValueError, match="unknown evaluator"):
        cli.score(
            {
                "input": inp,
                "feature_bags": ["features"],
                "model_dir": model_out,
                "output_dir": str(tmp_path / "ev2"),
                "evaluators": ["NDCG"],
            },
            spark,
        )


def test_data_validation_modes_in_train_and_score(spark, tmp_path, capsys):
    """data_validation config (reference dataValidation param, default
    VALIDATE_DISABLED) runs the per-task checks in train and the
    label-free base checks in score; 'full' mode rejects an input with
    a non-positive weight, 'disabled' lets it through."""
    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    # zero weight: rejected by the reference's validWeight check
    # (weight > 0) but tolerated by spark.ml GLR, so 'disabled' can
    # genuinely train through the same input
    bad = training.withColumn(
        "weight", F.when(F.col("uid") % 50 == 0, 0.0).otherwise(F.col("weight"))
    )
    inp = str(tmp_path / "dv_in.parquet")
    bad.write.parquet(inp)

    base = {
        "input": inp,
        "feature_bags": ["features"],
        "coordinates": [{"name": "global", "kind": "fixed"}],
        "family": "binomial",
        "n_iterations": 1,
        "output_dir": str(tmp_path / "dv_model"),
    }
    with pytest.raises(ValueError, match="data validation failed"):
        cli.train({**base, "data_validation": "full"}, spark)
    # disabled (the default) trains through
    cli.train(base, spark)
    capsys.readouterr()

    with pytest.raises(ValueError, match="data validation failed"):
        cli.score(
            {
                "input": inp,
                "feature_bags": ["features"],
                "model_dir": str(tmp_path / "dv_model"),
                "output_dir": str(tmp_path / "dv_scores"),
                "data_validation": "full",
            },
            spark,
        )


def test_train_normalization_backmap_and_variances(spark, tmp_path, capsys):
    """normalization=standardization trains in the transformed space
    and persists an ORIGINAL-space model: for an unregularized gaussian
    fit the backmapped coefficients match the unnormalized fit (same
    optimum, reparametrized). variance_computation=simple|full writes
    per-coordinate variance tables beside the model."""
    import numpy as np

    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    ).withColumn("response", (F.col("uid") % 7).cast("double"))
    inp = str(tmp_path / "nb_in.parquet")
    training.write.parquet(inp)

    base = {
        "input": inp,
        "feature_bags": ["features"],
        "coordinates": [{"name": "global", "kind": "fixed"}],
        "family": "gaussian",
        "n_iterations": 1,
    }

    def coefs(model_dir):
        rows = spark.read.parquet(
            f"{model_dir}/fixed-effect/global/coefficients"
        ).collect()
        out = {}
        for r in rows:
            out[int(r.feature_index)] = float(r.coefficient)
        return out

    plain_out = str(tmp_path / "nb_plain")
    cli.train({**base, "output_dir": plain_out}, spark)
    norm_out = str(tmp_path / "nb_norm")
    cli.train(
        {
            **base,
            "output_dir": norm_out,
            "normalization": "STANDARDIZATION",  # reference-style name
            "variance_computation": "simple",
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["variances"] == ["global"]

    c0, c1 = coefs(plain_out), coefs(norm_out)
    assert set(c0) == set(c1)
    for j in c0:
        assert abs(c0[j] - c1[j]) < 1e-3 * max(1.0, abs(c0[j])), (j, c0[j], c1[j])

    var = spark.read.parquet(f"{norm_out}/fixed-effect/global/variances")
    rows = {int(r.feature_index): r for r in var.collect()}
    assert all(v.variance >= 0 for v in rows.values())
    # dictionary join labels the intercept slot
    labeled = {r.feature_key for r in rows.values() if r.feature_key}
    assert "(INTERCEPT)" in labeled

    # the saved normalized-trained model scores RAW data equivalently
    s_plain = str(tmp_path / "nb_s0")
    s_norm = str(tmp_path / "nb_s1")
    for mdir, sdir in ((plain_out, s_plain), (norm_out, s_norm)):
        cli.score(
            {
                "input": inp,
                "feature_bags": ["features"],
                "model_dir": mdir,
                "output_dir": sdir,
            },
            spark,
        )
    a = {r.uid: r.score for r in spark.read.parquet(s_plain).collect()}
    b = {r.uid: r.score for r in spark.read.parquet(s_norm).collect()}
    diffs = [abs(a[k] - b[k]) for k in a]
    assert float(np.max(diffs)) < 1e-3

    # FULL variance: same schema, strictly tighter than SIMPLE is not
    # guaranteed, but positivity and the report key are
    full_out = str(tmp_path / "nb_full")
    cli.train(
        {**base, "output_dir": full_out, "variance_computation": "full"},
        spark,
    )
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["variances"] == ["global"]
    var2 = spark.read.parquet(f"{full_out}/fixed-effect/global/variances")
    assert var2.filter("variance < 0").count() == 0

    with pytest.raises(ValueError, match="variance_computation"):
        cli.train(
            {**base, "output_dir": str(tmp_path / "x"),
             "variance_computation": "exact"},
            spark,
        )
    with pytest.raises(ValueError, match="kind must be"):
        cli.train(
            {**base, "output_dir": str(tmp_path / "y"),
             "normalization": "zscore"},
            spark,
        )


def test_incremental_training_cli(spark, tmp_path, capsys):
    """incremental_training warm-starts from a previous run's model:
    the previous dictionary is reused automatically, the fixed
    coordinate gets a Gaussian prior from the saved variances (new
    coefficients stay NEAR the prior run's on a tiny drifted batch,
    where an unwarmed fit drifts away), and random-effect entities
    absent from the new batch are carried forward."""
    import numpy as np

    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    batch1 = training.filter(F.col("uid") % 5 != 0)
    # tiny second batch with flipped labels — a plain fit drifts hard
    # restricted to half the suppliers so carry-forward is observable
    batch2 = training.filter(
        (F.col("uid") % 97 == 0) & (F.col("suppkey") < 5)
    ).withColumn("response", 1.0 - F.col("response"))
    in1, in2 = str(tmp_path / "b1.parquet"), str(tmp_path / "b2.parquet")
    batch1.write.parquet(in1)
    batch2.write.parquet(in2)

    coords = [
        {"name": "global", "kind": "fixed", "reg_param": 1e-3},
        {"name": "per_supplier", "kind": "random",
         "entity_col": "suppkey", "reg_param": 10.0},
    ]
    run1 = str(tmp_path / "run1")
    cli.train(
        {
            "input": in1,
            "feature_bags": ["features"],
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": run1,
            "variance_computation": "simple",
        },
        spark,
    )
    run2 = str(tmp_path / "run2")
    cli.train(
        {
            "input": in2,
            "feature_bags": ["features"],
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": run2,
            "incremental_training": {"model_dir": run1},
        },
        spark,
    )
    plain = str(tmp_path / "plain2")
    cli.train(
        {
            "input": in2,
            "feature_bags": ["features"],
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": plain,
        },
        spark,
    )
    capsys.readouterr()

    def fixed_vec(d):
        rows = spark.read.parquet(
            f"{d}/fixed-effect/global/coefficients"
        ).collect()
        v = {}
        for r in rows:
            v[int(r.feature_index)] = float(r.coefficient)
        return np.array([v.get(j, 0.0) for j in range(max(v) + 1)])

    a, b, c = fixed_vec(run1), fixed_vec(run2), fixed_vec(plain)
    # prior pulls run2 toward run1; the plain fit on flipped labels drifts
    assert np.linalg.norm(b - a) < np.linalg.norm(c - a)

    # the previous run's dictionary was reused: same key->index mapping
    d1 = {
        r.feature_key: r.feature_index
        for r in spark.read.parquet(f"{run1}/feature-dictionary").collect()
    }
    d2 = {
        r.feature_key: r.feature_index
        for r in spark.read.parquet(f"{run2}/feature-dictionary").collect()
    }
    assert d1 == d2

    # RE carry-forward: entities in run1 absent from batch2 survive
    re1 = {
        r.entity
        for r in spark.read.parquet(
            f"{run1}/random-effect/per_supplier/models"
        ).collect()
    }
    re2 = {
        r.entity
        for r in spark.read.parquet(
            f"{run2}/random-effect/per_supplier/models"
        ).collect()
    }
    re_plain = {
        r.entity
        for r in spark.read.parquet(
            f"{plain}/random-effect/per_supplier/models"
        ).collect()
    }
    assert re1 <= re2  # everything known before is still known
    assert len(re_plain) < len(re2)

    # normalization + incremental is refused loudly
    with pytest.raises(ValueError, match="incremental_training"):
        cli.train(
            {
                "input": in2,
                "feature_bags": ["features"],
                "coordinates": coords,
                "output_dir": str(tmp_path / "x"),
                "incremental_training": {"model_dir": run1},
                "normalization": "standardization",
            },
            spark,
        )


def test_train_summary_evaluators_sequence_and_locking(spark, tmp_path, capsys):
    """Remaining reference training params: data_summary_dir writes
    dictionary-labeled feature summaries; `evaluators` reports metrics
    on the validation scores; update_sequence reorders the CD updates
    (and rejects non-permutations); incremental_training.
    locked_coordinates keeps the previous model verbatim (M8)."""
    import numpy as np

    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    inp = str(tmp_path / "sq_in.parquet")
    va = str(tmp_path / "sq_va.parquet")
    training.filter(F.col("uid") % 3 != 0).write.parquet(inp)
    training.filter(F.col("uid") % 3 == 0).write.parquet(va)

    coords = [
        {"name": "global", "kind": "fixed", "reg_param": 1e-3},
        {"name": "per_supplier", "kind": "random",
         "entity_col": "suppkey", "reg_param": 10.0},
    ]
    run1 = str(tmp_path / "sq_run1")
    summary_dir = str(tmp_path / "sq_summary")
    cli.train(
        {
            "input": inp,
            "validation_input": va,
            "feature_bags": ["features"],
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": run1,
            "data_summary_dir": summary_dir,
            "evaluators": ["AUC", "LOGISTIC_LOSS"],
            "update_sequence": ["per_supplier", "global"],
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0.0 <= rep["evaluation"]["AUC"] <= 1.0
    assert rep["evaluation"]["LOGISTIC_LOSS"] > 0.0

    # summaries: one labeled row per observed feature, exact moments
    summ = {
        r.feature_key: r
        for r in spark.read.parquet(summary_dir).collect()
    }
    assert len(summ) >= 4 and all(k for k in summ)
    some = next(iter(summ.values()))
    assert some.nnz > 0 and some.variance >= 0 and some.min <= some.max

    # update_sequence must be a permutation
    with pytest.raises(ValueError, match="permutation"):
        cli.train(
            {
                "input": inp,
                "feature_bags": ["features"],
                "coordinates": coords,
                "output_dir": str(tmp_path / "x"),
                "update_sequence": ["global"],
            },
            spark,
        )

    # M8 partial retrain: lock the fixed coordinate to run1's model —
    # its saved coefficients come back bit-identical while the
    # unlocked RE coordinate refits
    run2 = str(tmp_path / "sq_run2")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": run2,
            "incremental_training": {
                "model_dir": run1,
                "locked_coordinates": ["global"],
            },
        },
        spark,
    )
    capsys.readouterr()

    def fixed_vec(d):
        rows = spark.read.parquet(
            f"{d}/fixed-effect/global/coefficients"
        ).collect()
        return {int(r.feature_index): float(r.coefficient) for r in rows}

    assert fixed_vec(run1) == fixed_vec(run2)

    with pytest.raises(ValueError, match="unknown coordinate"):
        cli.train(
            {
                "input": inp,
                "feature_bags": ["features"],
                "coordinates": coords,
                "output_dir": str(tmp_path / "y"),
                "incremental_training": {
                    "model_dir": run1,
                    "locked_coordinates": ["nope"],
                },
            },
            spark,
        )


def test_date_range_inputs(spark, tmp_path, capsys):
    """date_range / days_range read yyyy/MM/dd daily directories under
    the input root (inputDataDateRange parity): missing days are
    skipped, an empty resolution fails fast, and train consumes the
    union of the selected days."""
    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    root = str(tmp_path / "daily")
    # three present days (01, 02, 04) — day 03 missing on purpose
    counts = {}
    for day, m in (("01", 0), ("02", 1), ("04", 2)):
        part = training.filter(F.col("uid") % 3 == m)
        part.write.parquet(f"{root}/2026/08/{day}")
        counts[day] = part.count()

    out = str(tmp_path / "dr_model")
    cli.train(
        {
            "input": root,
            "date_range": {"start": "2026-08-01", "end": "2026-08-04"},
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out,
        },
        spark,
    )
    capsys.readouterr()
    # scoring the same range sees every row of the three present days
    sout = str(tmp_path / "dr_scores")
    cli.score(
        {
            "input": root,
            "days_range": {"days": 4, "until": "2026-08-04"},
            "feature_bags": ["features"],
            "model_dir": out,
            "output_dir": sout,
        },
        spark,
    )
    assert spark.read.parquet(sout).count() == sum(counts.values())

    with pytest.raises(ValueError, match="no daily directories"):
        cli.index(
            {
                "input": root,
                "date_range": {"start": "2027-01-01", "end": "2027-01-02"},
                "output_dir": str(tmp_path / "x"),
            },
            spark,
        )
    with pytest.raises(ValueError, match="not both"):
        cli.train(
            {
                "input": root,
                "date_range": {"start": "2026-08-01", "end": "2026-08-04"},
                "days_range": {"days": 2, "until": "2026-08-04"},
                "feature_bags": ["features"],
                "coordinates": [{"name": "global", "kind": "fixed"}],
                "output_dir": str(tmp_path / "y"),
            },
            spark,
        )


def test_review_fixes_round7(spark, tmp_path, capsys):
    """Regression pins for the round-7 self-review findings: summaries
    describe RAW data even under normalization; a mismatched explicit
    dictionary alongside incremental_training is refused; the training
    date_range does not leak onto a flat validation_input; a scalar
    days_range gets the fail-fast ValueError, not a TypeError."""
    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    root = str(tmp_path / "daily")
    training.write.parquet(f"{root}/2026/08/01")
    flat_va = str(tmp_path / "flat_va.parquet")
    training.filter(F.col("uid") % 4 == 0).write.parquet(flat_va)

    # 1+3: normalization + data_summary_dir + daily input + FLAT validation
    out = str(tmp_path / "rf_model")
    summary_dir = str(tmp_path / "rf_summary")
    cli.train(
        {
            "input": root,
            "date_range": {"start": "2026-08-01", "end": "2026-08-01"},
            "validation_input": flat_va,
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out,
            "normalization": "standardization",
            "data_summary_dir": summary_dir,
        },
        spark,
    )
    capsys.readouterr()
    rows = spark.read.parquet(summary_dir).collect()
    # raw-data stats: standardized stats would have variance ≈ 1
    # everywhere; the raw measures differ by orders of magnitude
    variances = sorted(float(r.variance) for r in rows)
    assert variances[-1] / max(variances[0], 1e-12) > 10.0

    # 2: explicit mismatched dictionary_input + incremental refused
    idx2 = str(tmp_path / "rf_idx")
    narrowed = spark.read.parquet(f"{out}/feature-dictionary").filter(
        "feature_index <= 2"
    )
    narrowed.write.parquet(f"{idx2}/feature-dictionary")
    with pytest.raises(ValueError, match="differs from incremental"):
        cli.train(
            {
                "input": root,
                "date_range": {"start": "2026-08-01", "end": "2026-08-01"},
                "feature_bags": ["features"],
                "coordinates": [{"name": "global", "kind": "fixed"}],
                "output_dir": str(tmp_path / "x"),
                "incremental_training": {"model_dir": out},
                "dictionary_input": idx2,
            },
            spark,
        )

    # 4: scalar days_range → config ValueError, not TypeError
    with pytest.raises(ValueError, match="days_range needs"):
        cli.train(
            {
                "input": root,
                "days_range": 30,
                "feature_bags": ["features"],
                "coordinates": [{"name": "global", "kind": "fixed"}],
                "output_dir": str(tmp_path / "y"),
            },
            spark,
        )
    # malformed date fails up front with the iso error, not an empty scan
    with pytest.raises(ValueError, match="Invalid isoformat|month must"):
        cli.train(
            {
                "input": root,
                "date_range": {"start": "2026-13-01", "end": "2026-13-02"},
                "feature_bags": ["features"],
                "coordinates": [{"name": "global", "kind": "fixed"}],
                "output_dir": str(tmp_path / "z"),
            },
            spark,
        )


def test_curate_pii_stage(spark, tmp_path, capsys):
    """The curate `pii` stage runs FIRST (before the shared token
    column): redact scrubs matches to [PII] in the published text,
    drop removes offending documents; downstream stages see the
    scrubbed corpus."""
    from photon_ml_spark import cli

    docs = spark.createDataFrame(
        [
            (0, "contact me at alice@example.com for the dataset", "s"),
            (1, "a clean document with plenty of ordinary words here", "s"),
            (2, "call 555-123-4567 or mail bob@example.org today ok", "s"),
        ],
        "doc_id long, text string, source string",
    )
    inp = str(tmp_path / "pii_in.parquet")
    docs.write.parquet(inp)

    out1 = str(tmp_path / "pii_redact")
    cli.curate(
        {"input": inp, "output_dir": out1, "pii": {"action": "redact"}},
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["report"]["after_pii"] == 3
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{out1}/docs").collect()
    }
    assert "[PII]" in texts[0] and "@" not in texts[0]
    assert "[PII]" in texts[2]
    assert "[PII]" not in texts[1]

    out2 = str(tmp_path / "pii_drop")
    cli.curate(
        {"input": inp, "output_dir": out2, "pii": {"action": "drop"}},
        spark,
    )
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["report"]["after_pii"] == 1

    with pytest.raises(ValueError, match="redact|drop"):
        cli.curate(
            {"input": inp, "output_dir": str(tmp_path / "x"),
             "pii": {"action": "hide"}},
            spark,
        )
    with pytest.raises(ValueError, match="unknown key"):
        cli.curate(
            {"input": inp, "output_dir": str(tmp_path / "y"),
             "pii": {"mode": "redact"}},
            spark,
        )


def test_cli_curate_stream_pii_redaction(spark, tmp_path, capsys):
    """The streaming driver's pii stage scrubs BEFORE tokenization and
    dedup, so the published survivors and the shared index only ever
    see redacted text."""
    import glob as _glob
    import os
    import shutil

    docs = spark.createDataFrame(
        [
            (0, "s", "en", "mail alice@example.com about the training set"),
            (1, "s", "en", "a perfectly ordinary document with many words"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    src = str(tmp_path / "pii_src")
    os.makedirs(src)
    tmp = str(tmp_path / "one")
    docs.coalesce(1).write.parquet(tmp)
    shutil.copyfile(
        _glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/batch0.parquet"
    )
    cfg = {
        "input_dir": src,
        "schema": "doc_id long, source string, lang string, text string",
        "index_path": str(tmp_path / "index_p"),
        "output_dir": str(tmp_path / "out_p"),
        "checkpoint_dir": str(tmp_path / "ckpt_p"),
        "pii": {"action": "redact"},
        "threshold": 0.5,
        "n": 2,
    }
    cli.curate_stream(cfg, spark)
    capsys.readouterr()
    out = {r.doc_id: r.text for r in spark.read.parquet(cfg["output_dir"]).collect()}
    assert "[PII]" in out[0] and "@" not in out[0]
    assert "[PII]" not in out[1]


def test_advice_fixes_round8(spark, tmp_path, capsys):
    """Regression pins for the round-8 ADVICE findings: a RELATIVE
    input root resolves date ranges (globStatus paths are absolute —
    the root is qualified first); single-row training input does not
    divide by zero in the (n-1) variance under ANSI mode."""
    import os

    import numpy as np

    from photon_ml_spark import cli
    from photon_ml_spark.ml import normalization
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )

    # 1) relative input root + date_range
    root = str(tmp_path / "rel_daily")
    training.limit(50).write.parquet(f"{root}/2026/08/01")
    rel = os.path.relpath(root, os.getcwd())
    assert not os.path.isabs(rel)
    paths = cli._resolve_input(
        spark,
        {"input": rel,
         "date_range": {"start": "2026-08-01", "end": "2026-08-02"}},
    )
    assert len(paths) == 1 and paths[0].endswith("2026/08/01")
    assert spark.read.parquet(*paths).count() == 50

    # 2) single-row input: variance guard, factor repairs to 1
    one_feat = spark.createDataFrame(
        [(0, [0, 1], [0.5, 2.0])],
        "uid long, features_indices array<int>, features_values array<double>",
    )
    table = normalization.sparse_normalization_table(
        one_feat, kind="standardization"
    ).collect()
    assert table, "single-row table must not be empty"
    assert all(float(r.factor) == 1.0 for r in table)
    # the train driver's data_summary on a single row writes NULL
    # variance instead of throwing
    out = str(tmp_path / "one_model")
    sdir = str(tmp_path / "one_summary")
    inp1 = str(tmp_path / "one.parquet")
    training.limit(1).write.parquet(inp1)
    cli.train(
        {
            "input": inp1,
            "feature_bags": ["features"],
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out,
            "data_summary_dir": sdir,
        },
        spark,
    )
    capsys.readouterr()
    summ = spark.read.parquet(sdir)
    assert summ.count() > 0
    assert all(r.variance is None for r in summ.select("variance").collect())
    assert np.isfinite(
        [float(r.coefficient) for r in spark.read.parquet(
            f"{out}/fixed-effect/global/coefficients").collect()]
    ).all()


def test_bags_driver_chains_into_index_and_train(spark, tmp_path, capsys):
    """The `bags` driver (NameAndTermFeatureBagsDriver parity) writes
    per-bag distinct name\\tterm text lists; `index` consumes them as a
    selected_features allowlist; `train` consumes the resulting
    dictionary via dictionary_input — the reference's production
    bags -> index -> train chain, end to end."""
    import json as _json

    from photon_ml_spark import cli
    from photon_ml_spark.sources import datasets, featurize

    training = datasets.lineitem_training_frame(
        spark, "/root/testdata/sf0.001"
    )
    inp = str(tmp_path / "train.parquet")
    training.write.parquet(inp)

    # 1) bags
    bags_dir = str(tmp_path / "bags")
    cli.bags(
        {"input": inp, "feature_bags": ["features"],
         "output_dir": bags_dir},
        spark,
    )
    status = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["status"] == "bags"

    # wire format: name\tterm text lines, one per distinct pair
    lines = [
        r.value for r in spark.read.text(f"{bags_dir}/features").collect()
    ]
    expected = {
        (f["name"], f["term"])
        for row in training.select(F.explode("features").alias("f")).collect()
        for f in [row.f]
    }
    assert status["bags"]["features"] == len(expected) == len(lines)
    assert {tuple((ln.split("\t") + [""])[:2]) for ln in lines} == expected

    # the reader round-trips to the same feature keys
    keys = {
        r.feature_key
        for r in featurize.read_name_term_bags(
            spark, bags_dir, ["features"]
        ).collect()
    }
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    assert keys == {FEATURE_KEY_SEP.join(p) for p in expected}

    # 2) index with the bags artifact as the allowlist — drop one pair
    # from the list and the dictionary must shrink accordingly
    pruned_dir = str(tmp_path / "bags_pruned")
    dropped = sorted(lines)[0]
    spark.createDataFrame(
        [(ln,) for ln in lines if ln != dropped], "value string"
    ).write.text(f"{pruned_dir}/features")
    idx_dir = str(tmp_path / "index")
    cli.index(
        {
            "input": inp,
            "feature_bags": ["features"],
            "selected_features": {"bags_dir": pruned_dir},
            "output_dir": idx_dir,
        },
        spark,
    )
    capsys.readouterr()
    dictionary = spark.read.parquet(f"{idx_dir}/feature-dictionary")
    dkeys = {r.feature_key for r in dictionary.collect()}
    dropped_key = FEATURE_KEY_SEP.join((dropped.split("\t") + [""])[:2])
    assert dropped_key not in dkeys
    assert len(dkeys) == len(expected)  # -1 pruned, +1 intercept

    # 3) train against the indexed dictionary
    out = str(tmp_path / "model")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "dictionary_input": idx_dir,
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out,
        },
        spark,
    )
    capsys.readouterr()
    d2 = {
        r.feature_key: r.feature_index
        for r in spark.read.parquet(f"{out}/feature-dictionary").collect()
    }
    assert d2 == {r.feature_key: r.feature_index for r in dictionary.collect()}
    assert spark.read.parquet(
        f"{out}/fixed-effect/global/coefficients"
    ).count() > 0

    # unknown selected_features map keys fail fast
    with pytest.raises(ValueError, match="bags_dir"):
        cli.index(
            {"input": inp, "selected_features": {"dir": pruned_dir},
             "output_dir": str(tmp_path / "z")},
            spark,
        )


def _two_bag_frame(spark):
    """lineitem training frame with its feature bag split in two —
    user-side measures in bag_a, item-side in bag_b (the reference
    flagship's userFeatures/songFeatures split,
    GameTrainingDriverIntegTest.scala:736-770)."""
    from photon_ml_spark.sources import datasets

    training = datasets.lineitem_training_frame(spark, "/root/testdata/sf0.001")
    a_terms = F.array(F.lit("qty"), F.lit("price"))
    return training.select(
        "uid", "response", "offset", "weight", "suppkey", "custkey",
        F.filter(
            "features", lambda f: F.array_contains(a_terms, f["term"])
        ).alias("bag_a"),
        F.filter(
            "features", lambda f: ~F.array_contains(a_terms, f["term"])
        ).alias("bag_b"),
    )


def test_multi_shard_train_save_score_roundtrip(spark, tmp_path, capsys):
    """Per-coordinate feature shards end-to-end
    (CoordinateDataConfiguration.scala:24,37,58 featureShardId +
    FeatureShardConfiguration.scala:23): the train driver builds ONE
    dictionary per shard, each coordinate trains on its own shard's
    columns, the model dir persists per-shard dictionaries +
    feature-shards.json, and the score driver reassembles every shard
    from those artifacts — no shard keys in the score config."""
    import numpy as np

    from photon_ml_spark import cli
    from photon_ml_spark.sources.model_io import load_game_model

    two = _two_bag_frame(spark)
    inp = str(tmp_path / "ms_in.parquet")
    two.write.parquet(inp)
    model_out = str(tmp_path / "ms_model")
    cli.train(
        {
            "input": inp,
            "feature_shards": {
                "shardA": {"bags": ["bag_a"]},
                "shardB": {"bags": ["bag_b"]},
            },
            "coordinates": [
                {"name": "global", "kind": "fixed", "shard": "shardA"},
                {
                    "name": "per_supplier", "kind": "random",
                    "shard": "shardB", "entity_col": "suppkey",
                    "reg_param": 1.0,
                },
            ],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": model_out,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # per-shard dims: bag_a has 2 keys + intercept, bag_b has 3 + intercept
    assert rep["dim"] == {"shardA": 3, "shardB": 4}

    # per-shard artifacts on disk
    shards_meta = json.loads(
        (tmp_path / "ms_model" / "feature-shards.json").read_text()
    )
    assert shards_meta["shards"] == {
        "shardA": {"bags": ["bag_a"], "has_intercept": True},
        "shardB": {"bags": ["bag_b"], "has_intercept": True},
    }
    dict_a = {
        r.feature_key
        for r in spark.read.parquet(
            f"{model_out}/feature-dictionaries/shardA"
        ).collect()
    }
    dict_b = {
        r.feature_key
        for r in spark.read.parquet(
            f"{model_out}/feature-dictionaries/shardB"
        ).collect()
    }
    assert len(dict_a) == 3 and len(dict_b) == 4
    assert dict_a & dict_b == {"(INTERCEPT)"}

    # the model's coordinates carry their OWN shard columns
    model = load_game_model(model_out, spark)
    assert model.configs["global"].indices_col == "shardA_indices"
    assert model.configs["per_supplier"].indices_col == "shardB_indices"
    assert model.configs["global"].dim == 3
    assert model.configs["per_supplier"].dim == 4
    # fixed table labeled with shardA's vocabulary
    keys = {
        r.feature_key
        for r in spark.read.parquet(
            f"{model_out}/fixed-effect/global/coefficients"
        ).collect()
    }
    assert keys <= dict_a

    # score driver: shard definitions come from the model dir
    score_out = str(tmp_path / "ms_scores")
    cli.score(
        {"input": inp, "model_dir": model_out, "output_dir": score_out},
        spark,
    )
    capsys.readouterr()
    scored = spark.read.parquet(score_out)
    assert scored.count() == two.count()
    assert {"score", "prediction"} <= set(scored.columns)
    # scores vary across rows (both coordinates contribute)
    stats = scored.agg(
        F.count_distinct(F.round("score", 9)).alias("k")
    ).first()
    assert stats.k > 10

    # cross-check one path: transformer score over a manual reassembly
    # equals the driver's sink output
    from photon_ml_spark.datamodel import FeatureShardConfig
    from photon_ml_spark.estimator import GameTransformer
    from photon_ml_spark.sources import featurize

    da = spark.read.parquet(f"{model_out}/feature-dictionaries/shardA")
    db = spark.read.parquet(f"{model_out}/feature-dictionaries/shardB")
    manual = featurize.assemble_shard(
        two, da, FeatureShardConfig("shardA", ["bag_a"]), strategy="map"
    )
    manual = featurize.assemble_shard(
        manual, db, FeatureShardConfig("shardB", ["bag_b"]), strategy="map"
    )
    expect = {
        r.uid: r.score
        for r in GameTransformer(model=model).transform(manual)
        .select("uid", "score").collect()
    }
    got = {r.uid: r.score for r in scored.select("uid", "score").collect()}
    assert set(got) == set(expect)
    assert all(abs(got[u] - expect[u]) < 1e-9 for u in got)

    # user-supplied shard keys against a multi-shard model are rejected
    with pytest.raises(ValueError, match="feature-shards.json"):
        cli.score(
            {
                "input": inp, "feature_bags": ["bag_a"],
                "model_dir": model_out,
                "output_dir": str(tmp_path / "ms_bad"),
            },
            spark,
        )


def test_multi_shard_config_validation(spark, tmp_path):
    from photon_ml_spark import cli

    two = _two_bag_frame(spark)
    inp = str(tmp_path / "msv_in.parquet")
    two.write.parquet(inp)
    base = {
        "input": inp,
        "feature_shards": {
            "shardA": {"bags": ["bag_a"]},
            "shardB": {"bags": ["bag_b"]},
        },
        "family": "binomial",
        "n_iterations": 1,
        "output_dir": str(tmp_path / "msv_model"),
    }
    # a coordinate naming an unknown shard fails before any IO
    with pytest.raises(ValueError, match="unknown shard"):
        cli.train(
            {**base, "coordinates": [
                {"name": "g", "kind": "fixed", "shard": "nope"}
            ]},
            spark,
        )
    # several shards configured -> every coordinate must pick one
    with pytest.raises(ValueError, match="needs a 'shard'"):
        cli.train(
            {**base, "coordinates": [{"name": "g", "kind": "fixed"}]},
            spark,
        )
    # feature_shards and the legacy single-shard keys are exclusive
    with pytest.raises(ValueError, match="feature_shards replaces"):
        cli.train(
            {**base, "feature_bags": ["bag_a"], "coordinates": [
                {"name": "g", "kind": "fixed", "shard": "shardA"}
            ]},
            spark,
        )
    # shard spec typos fail fast
    with pytest.raises(ValueError, match="feature_shards"):
        cli.train(
            {**base, "feature_shards": {"shardA": {"bag": ["bag_a"]}},
             "coordinates": [
                 {"name": "g", "kind": "fixed", "shard": "shardA"}
             ]},
            spark,
        )
    # a single-shard prior model (no feature-shards.json) cannot seed a
    # multi-shard run — priors are indexed per shard
    with pytest.raises(ValueError, match="single-shard model"):
        cli.train(
            {**base, "incremental_training": {"model_dir": str(tmp_path)},
             "coordinates": [
                 {"name": "g", "kind": "fixed", "shard": "shardA"}
             ]},
            spark,
        )


def test_multi_shard_normalization_summaries_variances(spark, tmp_path, capsys):
    """Per-shard normalization factor tables, per-shard data summaries
    ({dir}/{shard}), and per-coordinate variance tables computed on the
    coordinate's OWN shard. The persisted model must be original-space
    per shard: backmapped coefficients score raw data identically to
    the training-space model scoring normalized data."""
    from photon_ml_spark import cli

    two = _two_bag_frame(spark)
    inp = str(tmp_path / "msn_in.parquet")
    two.write.parquet(inp)
    model_out = str(tmp_path / "msn_model")
    summary_dir = str(tmp_path / "msn_summary")
    cli.train(
        {
            "input": inp,
            "feature_shards": {
                "shardA": {"bags": ["bag_a"]},
                "shardB": {"bags": ["bag_b"]},
            },
            "coordinates": [
                {"name": "global", "kind": "fixed", "shard": "shardA"},
                {"name": "second", "kind": "fixed", "shard": "shardB",
                 "reg_param": 0.0},
            ],
            "family": "gaussian",
            "n_iterations": 1,
            "normalization": "standardization",
            "variance_computation": "simple",
            "data_summary_dir": summary_dir,
            "output_dir": model_out,
        },
        spark,
    )
    capsys.readouterr()
    # per-shard summaries, each labeled by its own dictionary
    sa = spark.read.parquet(f"{summary_dir}/shardA")
    sb = spark.read.parquet(f"{summary_dir}/shardB")
    assert sa.filter(F.col("feature_key").isNotNull()).count() == 2
    assert sb.filter(F.col("feature_key").isNotNull()).count() == 3
    # per-coordinate variance tables exist, sized by each shard's dim
    va = spark.read.parquet(f"{model_out}/fixed-effect/global/variances")
    vb = spark.read.parquet(f"{model_out}/fixed-effect/second/variances")
    assert va.count() == 3 and vb.count() == 4

    # original-space round trip: an unnormalized run reaches the same
    # optimum for the unregularized gaussian fit (same algebra the
    # single-shard test pins, now per shard)
    model_out2 = str(tmp_path / "msn_model_raw")
    cli.train(
        {
            "input": inp,
            "feature_shards": {
                "shardA": {"bags": ["bag_a"]},
                "shardB": {"bags": ["bag_b"]},
            },
            "coordinates": [
                {"name": "global", "kind": "fixed", "shard": "shardA"},
                {"name": "second", "kind": "fixed", "shard": "shardB",
                 "reg_param": 0.0},
            ],
            "family": "gaussian",
            "n_iterations": 1,
            "output_dir": model_out2,
        },
        spark,
    )
    capsys.readouterr()
    for coord in ("global", "second"):
        c1 = {
            r.feature_index: r.coefficient
            for r in spark.read.parquet(
                f"{model_out}/fixed-effect/{coord}/coefficients"
            ).collect()
        }
        c2 = {
            r.feature_index: r.coefficient
            for r in spark.read.parquet(
                f"{model_out2}/fixed-effect/{coord}/coefficients"
            ).collect()
        }
        assert set(c1) == set(c2)
        for j in c1:
            assert abs(c1[j] - c2[j]) < 1e-4, (coord, j, c1[j], c2[j])


def test_multi_shard_incremental_training(spark, tmp_path, capsys):
    """incremental_training composes with feature_shards: every shard
    reuses the prior run's saved per-shard dictionary (the spaces the
    priors are indexed by), the fixed coordinate's Gaussian prior pulls
    the refit toward the prior run on a drifted batch, random-effect
    entities absent from the new batch carry forward, and a prior model
    whose shard definitions differ is rejected before any IO."""
    import numpy as np

    from photon_ml_spark import cli

    two = _two_bag_frame(spark)
    batch1 = two.filter(F.col("uid") % 5 != 0)
    # tiny flipped-label second batch on half the suppliers — a plain
    # fit drifts hard and carry-forward is observable
    batch2 = two.filter(
        (F.col("uid") % 97 == 0) & (F.col("suppkey") < 5)
    ).withColumn("response", 1.0 - F.col("response"))
    in1 = str(tmp_path / "msi_b1.parquet")
    in2 = str(tmp_path / "msi_b2.parquet")
    batch1.write.parquet(in1)
    batch2.write.parquet(in2)

    shards = {
        "shardA": {"bags": ["bag_a"]},
        "shardB": {"bags": ["bag_b"]},
    }
    coords = [
        {"name": "global", "kind": "fixed", "shard": "shardA",
         "reg_param": 1e-3},
        {"name": "per_supplier", "kind": "random", "shard": "shardB",
         "entity_col": "suppkey", "reg_param": 10.0},
    ]
    run1 = str(tmp_path / "msi_run1")
    cli.train(
        {
            "input": in1,
            "feature_shards": shards,
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": run1,
            "variance_computation": "simple",
        },
        spark,
    )
    run2 = str(tmp_path / "msi_run2")
    cli.train(
        {
            "input": in2,
            "feature_shards": shards,
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": run2,
            "incremental_training": {"model_dir": run1},
        },
        spark,
    )
    plain = str(tmp_path / "msi_plain")
    cli.train(
        {
            "input": in2,
            "feature_shards": shards,
            "coordinates": coords,
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": plain,
        },
        spark,
    )
    capsys.readouterr()

    def fixed_vec(d):
        v = {
            int(r.feature_index): float(r.coefficient)
            for r in spark.read.parquet(
                f"{d}/fixed-effect/global/coefficients"
            ).collect()
        }
        return np.array([v.get(j, 0.0) for j in range(max(v) + 1)])

    a, b, c = fixed_vec(run1), fixed_vec(run2), fixed_vec(plain)
    # the prior pulls run2 toward run1; the plain flipped-label fit drifts
    assert np.linalg.norm(b - a) < np.linalg.norm(c - a)

    # every shard's dictionary was reused: same key->index mappings
    for s in shards:
        d1 = {
            r.feature_key: r.feature_index
            for r in spark.read.parquet(
                f"{run1}/feature-dictionaries/{s}"
            ).collect()
        }
        d2 = {
            r.feature_key: r.feature_index
            for r in spark.read.parquet(
                f"{run2}/feature-dictionaries/{s}"
            ).collect()
        }
        assert d1 == d2, s

    # RE carry-forward: entities known to run1 but absent from batch2
    # survive into run2; the plain fit only knows batch2's suppliers
    def entities(d):
        return {
            r.entity
            for r in spark.read.parquet(
                f"{d}/random-effect/per_supplier/models"
            ).collect()
        }

    assert entities(run1) <= entities(run2)
    assert len(entities(plain)) < len(entities(run2))

    # shard-definition drift against the prior model is rejected
    with pytest.raises(ValueError, match="feature-shards.json"):
        cli.train(
            {
                "input": in2,
                "feature_shards": {
                    "shardA": {"bags": ["bag_b"]},
                    "shardB": {"bags": ["bag_a"]},
                },
                "coordinates": coords,
                "family": "binomial",
                "n_iterations": 1,
                "output_dir": str(tmp_path / "msi_bad"),
                "incremental_training": {"model_dir": run1},
            },
            spark,
        )


def test_multi_shard_dictionary_input_and_prior_mismatch_guards(
    spark, tmp_path, capsys
):
    """Two fail-fast guards around per-shard feature spaces: a PARTIAL
    multi-shard dictionary_input map (uncovered shards would silently
    re-index per run) and a single-shard incremental config against a
    multi-shard prior model (the prior's spaces are per-shard)."""
    from photon_ml_spark import cli

    two = _two_bag_frame(spark)
    inp = str(tmp_path / "msg_in.parquet")
    two.write.parquet(inp)
    shards = {
        "shardA": {"bags": ["bag_a"]},
        "shardB": {"bags": ["bag_b"]},
    }
    coords = [
        {"name": "global", "kind": "fixed", "shard": "shardA"},
        {"name": "second", "kind": "fixed", "shard": "shardB"},
    ]
    # build one real multi-shard index artifact for shardA only
    idx_a = str(tmp_path / "msg_idx_a")
    cli.index(
        {"input": inp, "feature_bags": ["bag_a"], "output_dir": idx_a},
        spark,
    )
    capsys.readouterr()
    with pytest.raises(ValueError, match="cover every configured shard"):
        cli.train(
            {
                "input": inp,
                "feature_shards": shards,
                "coordinates": coords,
                "family": "gaussian",
                "n_iterations": 1,
                "dictionary_input": {"shardA": idx_a},
                "output_dir": str(tmp_path / "msg_out"),
            },
            spark,
        )

    # multi-shard prior + legacy single-shard config: guided error,
    # not a raw missing-parquet-path failure
    run1 = str(tmp_path / "msg_run1")
    cli.train(
        {
            "input": inp,
            "feature_shards": shards,
            "coordinates": coords,
            "family": "gaussian",
            "n_iterations": 1,
            "output_dir": run1,
        },
        spark,
    )
    capsys.readouterr()
    with pytest.raises(ValueError, match="MULTI-shard"):
        cli.train(
            {
                "input": inp,
                "feature_bags": ["bag_a"],
                "coordinates": [{"name": "global", "kind": "fixed"}],
                "family": "gaussian",
                "n_iterations": 1,
                "incremental_training": {"model_dir": run1},
                "output_dir": str(tmp_path / "msg_out2"),
            },
            spark,
        )


@pytest.mark.parametrize(
    "dictionary_input, match",
    [
        ("index_dir", "dictionary_input must be a map"),
        ({"shardA": "a", "shardC": "c"}, "names unknown shard"),
        ({"shardA": "a"}, "must cover every configured shard"),
    ],
    ids=["not_a_map", "unknown_shard", "partial_map"],
)
def test_multi_shard_dictionary_input_config_errors(
    spark, tmp_path, dictionary_input, match
):
    """With feature_shards, dictionary_input must be a map over the
    configured shards that covers all of them (without
    incremental_training). Each violation fails before any Spark job
    runs."""
    sc = spark.sparkContext
    group = f"dictionary-input-{tmp_path.name}"
    sc.setJobGroup(group, "dictionary_input config errors")
    try:
        with pytest.raises(ValueError, match=match):
            cli.train(
                {
                    "input": str(tmp_path / "absent.parquet"),
                    "feature_shards": {
                        "shardA": {"bags": ["bag_a"]},
                        "shardB": {"bags": ["bag_b"]},
                    },
                    "coordinates": [
                        {"name": "global", "kind": "fixed",
                         "shard": "shardA"},
                    ],
                    "dictionary_input": dictionary_input,
                    "output_dir": str(tmp_path / "model"),
                },
                spark,
            )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize(
    "case",
    ["train", "train_raises", "score", "evaluator_error", "curate"],
)
def test_drivers_leave_nothing_materialized(
    spark, sf_dir, tmp_path, capsys, case
):
    """Every driver run (and each evaluation) owns a materialize scope:
    once it returns, successfully or by raising, none of the frames it
    persisted or checkpointed is still registered — no new persistent
    RDD (checkpoint blocks included) and no CacheManager entry."""
    training = datasets.lineitem_training_frame(spark, sf_dir)
    inp = str(tmp_path / "input.parquet")
    training.write.parquet(inp)
    docs = str(tmp_path / "docs.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").write.parquet(docs)
    model_dir = str(tmp_path / "model")
    train_cfg = {
        "input": inp,
        "feature_bags": ["features"],
        "coordinates": [
            {"name": "global", "kind": "fixed"},
            {"name": "per_supplier", "kind": "random",
             "entity_col": "suppkey", "reg_param": 1.0},
        ],
        "family": "binomial",
        "n_iterations": 1,
        "evaluators": ["AUC"],
        "output_dir": model_dir,
    }

    def train_raises():
        # raises after the feature dictionaries are cached
        with pytest.raises(ValueError, match="update_sequence"):
            cli.train({**train_cfg, "update_sequence": ["global"]}, spark)

    def evaluator_error():
        scored = training.limit(20).withColumn("score", F.rand(7))
        with pytest.raises(ValueError, match="unknown evaluator"):
            cli._evaluate_scores(scored, ["AUC", "NDCG"])

    run = {
        "train": lambda: cli.train(train_cfg, spark),
        "train_raises": train_raises,
        "score": lambda: cli.score(
            {"input": inp, "model_dir": model_dir,
             "output_dir": str(tmp_path / "scores"),
             "evaluators": ["AUC", "AUPR"]},
            spark,
        ),
        "evaluator_error": evaluator_error,
        "curate": lambda: cli.curate(
            {"input": docs, "output_dir": str(tmp_path / "curated"),
             "quality": {"min_tokens": 3, "max_ppl": 1e9},
             "exact_dedup": True,
             "near_dedup": {"threshold": 0.5, "n": 2},
             "chunk": {"max_tokens": 64, "overlap": 8}},
            spark,
        ),
    }[case]
    if case == "score":
        cli.train(train_cfg, spark)
    # caches other tests left unowned are not this run's
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    run()
    capsys.readouterr()
    leaked = set(jsc.getPersistentRDDs().keySet()) - before
    assert not leaked, f"{case} left persistent RDDs {sorted(leaked)}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
