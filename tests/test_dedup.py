"""Planted-duplicate recall tests for the dedup family.

The driver's synthetic corpus has no true duplicates, so the oracle
parity check alone can't demonstrate recall. Here we plant known
exact and near duplicates in a temporary `documents.parquet` and run
the SAME registered query functions against that directory.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_tools_spark.operators import dedup

VOCAB = [f"w{i}" for i in range(200)]

SF = "/root/testdata/sf0.01"


def _doc(rng: random.Random, n: int = 40) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    rng = random.Random(7)
    docs: list[tuple[int, str]] = []
    # 10 unrelated background docs
    for i in range(10):
        docs.append((i, _doc(rng)))
    # exact-dup group: 100/101 identical up to case/whitespace
    base = _doc(rng)
    docs.append((100, base))
    docs.append((101, "  " + base.upper() + "  "))
    # near-dup pair: 200/201 differ by dropping two words
    words = _doc(rng, 40).split()
    docs.append((200, " ".join(words)))
    docs.append((201, " ".join(words[:-2])))
    # near-dup pair: 300/301 differ by one substitution
    words2 = _doc(rng, 40).split()
    mutated = list(words2)
    mutated[5] = "zzz"
    docs.append((300, " ".join(words2)))
    docs.append((301, " ".join(mutated)))

    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["planted"] * len(docs)),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    d = tmp_path_factory.mktemp("planted")
    pq.write_table(tbl, d / "documents.parquet")
    return str(d)


def test_exact_dedup_catches_normalized_copy(spark, planted_dir):
    rows = dedup.dedup_exact(spark, planted_dir).collect()
    groups = {r.survivor_doc_id: r.n_copies for r in rows}
    assert groups[100] == 2  # 101 collapsed into 100
    # all other docs are singletons
    assert all(v == 1 for k, v in groups.items() if k != 100)


def test_minhash_lsh_recalls_planted_near_dups(spark, planted_dir):
    pairs = {(r.da, r.db) for r in dedup.dedup_minhash_lsh(spark, planted_dir).collect()}
    assert (100, 101) in pairs  # identical word set
    assert (200, 201) in pairs  # 2 dropped words
    assert (300, 301) in pairs  # 1 substitution
    # background docs must not pair with each other
    assert not any(da < 100 and db < 100 for da, db in pairs)


def test_simhash_recalls_planted_near_dups(spark, planted_dir):
    pairs = {(r.da, r.db): r.hamming for r in dedup.dedup_simhash(spark, planted_dir).collect()}
    assert pairs.get((100, 101)) == 0  # same word set → same simhash
    assert (300, 301) in pairs
    assert all(h <= dedup.HAMMING_MAX for h in pairs.values())


def test_ngram_jaccard_ranks_planted_pairs_first(spark, planted_dir):
    rows = dedup.dedup_ngram_jaccard(spark, planted_dir).collect()
    top = {(r.da, r.db) for r in rows[:3]}
    assert (100, 101) in top or (200, 201) in top or (300, 301) in top


def test_decontaminate_split_semantics(spark):
    """Contamination rows pair a non-eval train doc with an eval doc
    (doc_id % 97 == 0) at >= MIN_SHARED shared shingles."""
    from iceberg_tools_spark.operators.dedup import EVAL_MOD, MIN_SHARED, decontaminate_ngram

    rows = decontaminate_ngram(spark, SF).collect()
    assert len(rows) > 0  # planted near-dups cross the split at sf0.01
    assert all(r.train_doc_id % EVAL_MOD != 0 for r in rows)
    assert all(r.eval_doc_id % EVAL_MOD == 0 for r in rows)
    assert all(r.n_shared >= MIN_SHARED for r in rows)


def test_pii_patterns_match_python_re(spark):
    """The Spark-side regexes count exactly what Python re counts on
    a crafted text (2 emails, 1 URL), and scrubbing changes the
    hash only when something matched."""
    import re

    from pyspark.sql import functions as F

    from iceberg_tools_spark.operators.text import EMAIL_RE, URL_RE

    txt = "mail a@b.co and c.d+x@e-f.org see https://x.y/z?q=1 end"
    clean = "no pii here at all"
    df = spark.createDataFrame([(1, txt), (2, clean)], "doc_id long, text string")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0))).alias("e"),
            F.size(F.regexp_extract_all("text", F.lit(URL_RE), F.lit(0))).alias("u"),
            (F.md5(scrubbed) == F.md5("text")).alias("unchanged"),
        ).collect()
    }
    assert out[1].e == len(re.findall(EMAIL_RE, txt)) == 2
    assert out[1].u == len(re.findall(URL_RE, txt)) == 1
    assert not out[1].unchanged
    assert out[2].e == 0 and out[2].u == 0 and out[2].unchanged


def test_decontaminate_shuffle_fallback_matches_broadcast(spark):
    """VERDICT r5 #7: above the eval-row threshold the broadcast
    hint is dropped; both join strategies must return identical
    rows (threshold=0 forces the shuffle path)."""
    from iceberg_tools_spark.operators.dedup import decontaminate_ngram

    from .conftest import SF_ORACLE

    fast = decontaminate_ngram(spark, SF_ORACLE).collect()
    slow = decontaminate_ngram(
        spark, SF_ORACLE, broadcast_max_eval_rows=0
    ).collect()
    assert fast == slow
    assert len(fast) > 0


def test_decontaminate_broadcast_hint_present_only_below_threshold(spark):
    from iceberg_tools_spark.operators.dedup import decontaminate_ngram

    from .conftest import SF_ORACLE

    fast = decontaminate_ngram(spark, SF_ORACLE)
    slow = decontaminate_ngram(spark, SF_ORACLE, broadcast_max_eval_rows=0)
    assert "ResolvedHint" in fast._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in slow._jdf.queryExecution().analyzed().toString()


def test_decontaminate_minhash_catches_paraphrase(spark, tmp_path):
    """A train doc sharing the eval doc's WORD SET but in scrambled
    order (no 3-gram survives) is invisible to the exact n-gram
    sweep yet flagged by the fuzzy MinHash sweep — the gap the
    two-stage screen exists for."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [f"tok{i}" for i in range(40)]
    eval_text = " ".join(words)                      # doc_id 97 → eval slice
    shuffled = " ".join(words[1::2] + words[0::2])   # same set, new order
    unrelated = " ".join(f"other{i}" for i in range(40))
    rows = [(97, eval_text), (5, shuffled), (6, unrelated)]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["s"] * 3, pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    fuzzy = {(r.train_doc_id, r.eval_doc_id)
             for r in dedup.decontaminate_minhash(spark, str(tmp_path)).collect()}
    assert (5, 97) in fuzzy          # word-set identical → sig identical
    assert (6, 97) not in fuzzy      # unrelated text stays clean
    exact = {(r.train_doc_id, r.eval_doc_id)
             for r in dedup.decontaminate_ngram(spark, str(tmp_path)).collect()}
    assert (5, 97) not in exact      # scrambled order kills every 3-gram


def test_quality_score_linear_discriminates(spark):
    from iceberg_tools_spark.operators.text import quality_score_linear

    rows = quality_score_linear(spark, "/root/testdata/sf0.01").collect()
    keep = sum(r["keep"] for r in rows)
    # the threshold sits in the data mass: a real split, not a
    # constant gate
    assert 0.2 < keep / len(rows) < 0.8
    again = quality_score_linear(spark, "/root/testdata/sf0.01").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_lm_bigram_stats_mechanism(spark, tmp_path):
    """Hand-checkable micro-corpus: bigram counts are GLOBAL (cross-
    doc), one-word docs are excluded, and avg = sum/n exactly."""
    import pandas as pd

    from iceberg_tools_spark.operators import text as text_ops

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c", "a b", "x"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [5, 3, 1],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = {r["doc_id"]: r for r in text_ops.lm_bigram_stats(spark, str(tmp_path)).collect()}
    # bigrams: doc1 = (a,b),(b,c); doc2 = (a,b). global c(a,b)=2, c(b,c)=1
    assert set(out) == {1, 2}  # doc3 (one word) excluded
    assert out[1]["n_bigrams"] == 2 and out[1]["sum_bigram_count"] == 3
    assert out[2]["n_bigrams"] == 1 and out[2]["sum_bigram_count"] == 2
    assert float(out[1]["avg_bigram_count"]) == 1.5
    assert float(out[2]["avg_bigram_count"]) == 2.0


def test_lm_bigram_capped_matches_exact_and_bounds(spark):
    """The top-V capped form (the promised 100 TB knob, now real):
    with top_v at or above the distinct-bigram count it is BIT-EQUAL
    to the exact full-join gate; below it, n_bigrams is unchanged
    and sum_bigram_count is a lower bound (tail defaults to 1). The
    model side must be broadcast (no corpus-scale model shuffle)."""
    from iceberg_tools_spark.operators import text as text_ops

    sf = "/root/testdata/sf0.001"
    exact = {r["doc_id"]: r for r in text_ops.lm_bigram_stats(spark, sf).collect()}
    capped_df = text_ops.lm_bigram_stats_capped(spark, sf, top_v=10_000_000)
    capped = {r["doc_id"]: r for r in capped_df.collect()}
    assert {k: tuple(v) for k, v in capped.items()} == {
        k: tuple(v) for k, v in exact.items()
    }
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    small = {
        r["doc_id"]: r
        for r in text_ops.lm_bigram_stats_capped(spark, sf, top_v=64).collect()
    }
    assert set(small) == set(exact)
    assert all(small[k]["n_bigrams"] == exact[k]["n_bigrams"] for k in exact)
    assert all(
        small[k]["sum_bigram_count"] <= exact[k]["sum_bigram_count"] for k in exact
    )
    # the cap bites at V=64 on a real corpus: some docs are lower
    assert any(
        small[k]["sum_bigram_count"] < exact[k]["sum_bigram_count"] for k in exact
    )
