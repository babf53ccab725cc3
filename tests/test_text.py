"""Text-operator unit tests (the bulk of the text family is covered in
test_corpus_golden.py / test_dedup_text.py; this module holds the
per-doc metric hand cases)."""

from hdinsight_pyspark_cntk_integration_spark.operators import text as tx


def test_lexical_diversity_hand_case(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b A c"), (2, "x"), (3, "t t t t")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.lexical_diversity(df).collect()}
    r1 = out[1]  # tokens a b a c -> N=4 V=3
    assert (r1["n_tokens"], r1["n_types"]) == (4, 3)
    assert r1["ttr_micro"] == 750_000
    assert r1["herdan_c_micro"] == math.floor(
        math.log(3.0) / math.log(4.0) * 1e6
    )
    assert r1["guiraud_r_micro"] == 1_500_000
    # single-token doc: TTR/Guiraud defined, Herdan NULL (ln 1 = 0)
    assert out[2]["ttr_micro"] == 1_000_000
    assert out[2]["herdan_c_micro"] is None
    # fully templated doc scores minimal diversity
    assert out[3]["ttr_micro"] == 250_000 and out[3]["n_types"] == 1


def test_bigram_logprob_matches_python_bigram_model(spark):
    """bigram_logprob against a pure-Python add-one bigram model on a
    3-document corpus: P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), each
    distinct bigram's ln floored to micro-units and summed per document;
    case and repeated whitespace are normalized, and a one-token
    document has no bigrams and drops out."""
    import collections
    import math

    docs = [(1, "the cat  sat on The mat"), (2, "the cat ran"), (3, "alone")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_micro"], r["mean_nll"])
        for r in tx.bigram_logprob(df).collect()
    }
    pairs = {}
    for d, text in docs:
        words = text.lower().split()
        pairs[d] = list(zip(words, words[1:]))
    c12 = collections.Counter(p for ps in pairs.values() for p in ps)
    c1 = collections.Counter()
    for (w1, _), n in c12.items():
        c1[w1] += n
    v = len({w for p in c12 for w in p})
    lp = {
        p: math.floor(math.log((n + 1) / (c1[p[0]] + v)) * 1e6) for p, n in c12.items()
    }
    want = {}
    for d, ps in pairs.items():
        if ps:
            s = -sum(lp[p] for p in ps)
            want[d] = (len(ps), s, s / 1e6 / len(ps))
    assert set(want) == {1, 2}
    assert got == want
