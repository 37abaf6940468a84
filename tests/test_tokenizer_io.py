"""Tokenizer artifact save/load + the engine train/apply facade
(operators/tokenizer_io.py, engine.train_tokenizer/tokenize_with)."""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_DIR, jobs_run  # noqa: E402

pytestmark = pytest.mark.prodconf

# Jobs of collecting tokenize_with over a parquet scan: the collect.
TOKENIZE_WITH_JOB_BUDGET = {"false": 1, "true": 1}

# two real merges, then no-op padding out to K=2000 (the pairs never
# occur adjacently, so expected tokenization stays hand-checkable)
_PADDED = [("a", "b", 5), ("ab", "c", 3)] + [
    (f"x{i}", f"y{i}", 1) for i in range(1998)
]


def _engine_with(spark, prefix, *tables):
    """An engine whose catalog holds each merge table as
    ``<prefix><K>``."""
    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.operators.tokenizer_io import save_tokenizer

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix=f"tok_{prefix}_"))
    for merges in tables:
        name = f"{prefix}{len(merges)}"
        path = os.path.join(
            eng.catalog.artifact_dir("tokenizers", name), "tokenizer.json"
        )
        save_tokenizer(path, merges, {})
        eng.catalog.register("tokenizers", name,
                             {"path": path, "num_merges": len(merges)})
    return eng


def test_save_load_roundtrip(tmp_path):
    from neurondb_spark.operators.tokenizer_io import (
        load_tokenizer,
        save_tokenizer,
    )

    merges = [("a", "b", 7), ("ab", "c", 3)]
    p = str(tmp_path / "tok.json")
    save_tokenizer(p, merges, {"num_merges": 2})
    got, meta = load_tokenizer(p)
    assert got == merges and meta == {"num_merges": 2}
    # unknown format refused
    import json

    with open(p, "w") as f:
        json.dump({"format": "other", "merges": []}, f)
    with pytest.raises(ValueError, match="not a neurondb-bpe-v1"):
        load_tokenizer(p)


def test_engine_train_and_tokenize_with(spark):
    """engine.train_tokenizer persists the learned table in the catalog;
    tokenize_with applies it — and the applied tokenization agrees with
    the training run's own final word table (the hash-gated identity)."""
    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        bpe_word_table,
    )

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="tok_cat_"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = eng.train_tokenizer("doc_bpe", docs, "text", num_merges=6)
    assert len(merges) == 6
    meta = eng.catalog.get("tokenizers", "doc_bpe")
    assert meta and meta["num_merges"] == 6
    # the saved table is the trainer's, counts included
    m_direct, final = bpe_train(bpe_word_table(docs, "text"), 6)
    assert merges == m_direct
    # applying the SAVED tokenizer re-tokenizes the corpus to exactly
    # the training run's token counts
    toks = eng.tokenize_with("doc_bpe", docs, "text", out_col="toks")
    applied = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("occurrences"))
    )
    want = {(r["token"], r["occurrences"])
            for r in bpe_token_counts(final).collect()}
    got = {(r["token"], r["occurrences"]) for r in applied.collect()}
    assert got == want
    with pytest.raises(ValueError, match="unknown tokenizer"):
        eng.tokenize_with("nope", docs, "text")


def test_tokenize_with_edge_texts_same_at_k2_and_k2000(spark):
    """Null, empty and punctuation-only text give [] and repeated words
    keep their positions — the same arrays for a two-merge table and for
    the same table padded to K=2000 with merges that never apply."""
    eng = _engine_with(spark, "edge", _PADDED[:2], _PADDED)
    df = spark.createDataFrame(
        [(1, "ab cab ab"), (2, ""), (3, "!!! ..."), (4, None),
         (5, "abc, ABC abc"), (6, "c ba c")],
        "rid long, txt string",
    )
    want = {1: ["ab", "c", "ab", "ab"], 2: [], 3: [], 4: [],
            5: ["abc", "abc", "abc"], 6: ["c", "b", "a", "c"]}
    for name in ("edge2", "edge2000"):
        out = eng.tokenize_with(name, df, "txt", out_col="toks")
        assert {r["rid"]: r["toks"] for r in out.collect()} == want, name


def test_hf_interop_export_roundtrip(tmp_path):
    """VERDICT r13 stretch: the trained artifact exports as the standard
    vocab.json + merges.txt pair; re-reading the emitted merges.txt
    reconstructs the same merge sequence, and the derived vocab is the
    alphabet + one id per merge in training order."""
    import json

    from neurondb_spark.operators.tokenizer_io import (
        export_hf_tokenizer,
        load_hf_merges,
    )

    merges = [("a", "b", 9), ("ab", "c", 4), ("d", "ab", 2)]
    vp, mp = export_hf_tokenizer(str(tmp_path / "hf"), merges)
    assert [m[:2] for m in load_hf_merges(mp)] == [m[:2] for m in merges]
    with open(vp) as f:
        vocab = json.load(f)
    assert vocab == {"a": 0, "b": 1, "c": 2, "d": 3,
                     "ab": 4, "abc": 5, "dab": 6}
    with open(mp) as f:
        assert f.readline() == "#version: 0.2\n"
    with pytest.raises(ValueError, match="space"):
        export_hf_tokenizer(str(tmp_path / "hf2"), [("a b", "c", 1)])


def test_tokenize_with_auto_routes_large_merge_tables(spark):
    """engine.tokenize_with completes on a production-K merge table
    (K=2000) and keeps the caller's columns, adding only ``out_col``.
    Rows are tokenized one by one: both copies of a duplicated row keep
    their own tokens."""
    eng = _engine_with(spark, "big", _PADDED)
    df = spark.createDataFrame(
        [(1, "ab cab"), (2, "ba"), (3, None)], "rid long, txt string"
    )
    out = eng.tokenize_with("big2000", df, "txt", out_col="toks")
    assert out.columns == ["rid", "txt", "toks"]
    got = {r["rid"]: list(r["toks"]) for r in out.collect()}
    assert got == {1: ["ab", "c", "ab"], 2: ["b", "a"], 3: []}
    dup = eng.tokenize_with("big2000", df.unionByName(df), "txt",
                            out_col="toks")
    rows = dup.where(F.col("rid") == 1).collect()
    assert [list(r["toks"]) for r in rows] == [["ab", "c", "ab"]] * 2


def test_tokenize_with_job_budget(spark):
    """Applying a tokenizer is one per-row UDF over the scan: its jobs
    are the action's own, and the executed plan has no Exchange (no
    join, no regroup by a row id)."""
    eng = _engine_with(spark, "budget", _PADDED)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = eng.tokenize_with("budget2000", docs, "text", out_col="toks")
    rows, jobs = jobs_run(spark, out.collect)
    assert len(rows) == docs.count()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    assert jobs <= TOKENIZE_WITH_JOB_BUDGET[aqe], jobs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_hf_export_explicit_alphabet(tmp_path):
    """ADVICE r14 (low): merges-only export covers only merge-
    participating characters — an HF consumer maps anything else to UNK.
    The optional explicit alphabet (e.g. the training corpus's distinct
    characters) lands in vocab.json; malformed entries are refused."""
    import json

    from neurondb_spark.operators.tokenizer_io import export_hf_tokenizer

    merges = [("a", "b", 9)]
    vp, _mp = export_hf_tokenizer(str(tmp_path / "hf"), merges,
                                  alphabet={"a", "b", "z", "q"})
    with open(vp) as f:
        vocab = json.load(f)
    assert vocab == {"a": 0, "b": 1, "q": 2, "z": 3, "ab": 4}
    with pytest.raises(ValueError, match="single characters"):
        export_hf_tokenizer(str(tmp_path / "h2"), merges, alphabet={"ab"})
    with pytest.raises(ValueError, match="whitespace"):
        export_hf_tokenizer(str(tmp_path / "h3"), merges, alphabet={" "})
