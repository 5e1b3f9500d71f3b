"""Datapipe operator tests: dedup family vs pure-Python references,
LSH recall vs brute force, textstats goldens."""

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from terrier_spark.datapipe.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from terrier_spark.datapipe.simsearch import cosine_topk, lsh_cosine_topk
from terrier_spark.datapipe.textstats import (
    char_fingerprints,
    language_id,
    quality_scores,
    token_counts,
)


def py_shingles(text, n=3):
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))} - {""}


def py_jaccard(a, b, n=3):
    sa, sb = py_shingles(a, n), py_shingles(b, n)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    variant = "the quick brown fox jumps over the lazy dog near the river shore"
    other = "completely different content about spark dataframes and shuffles"
    rows = [
        (0, base),
        (1, base),            # exact dup of 0
        (2, variant),         # near dup of 0
        (3, other),
        (4, other + " with an extra tail of words"),
        (5, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs_df):
    out = exact_duplicates(docs_df).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_docs"] == 2 and row["canonical_id"] == 0


def test_ngram_jaccard_matches_python(spark, docs_df):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    expected = {}
    for a in texts:
        for b in texts:
            if a < b:
                j = py_jaccard(texts[a], texts[b])
                if j >= 0.3:
                    expected[(a, b)] = j
    assert set(out) == set(expected)
    for k in out:
        assert out[k] == pytest.approx(expected[k])


def test_minhash_signature_shape_and_determinism(spark, docs_df):
    s1 = minhash_signatures(docs_df).orderBy("id").collect()
    s2 = minhash_signatures(docs_df).orderBy("id").collect()
    assert [r["sig"] for r in s1] == [r["sig"] for r in s2]
    assert all(len(r["sig"]) == 64 for r in s1)
    # exact dups have identical signatures
    sigs = {r["id"]: r["sig"] for r in s1}
    assert sigs[0] == sigs[1]


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    # default: exact dups collapse to their canonical first (doc 1 is a
    # byte-copy of doc 0, so the (0,1) pair belongs to exact_duplicates)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs_df, threshold=0.5).collect()
    }
    assert (0, 1) not in pairs
    assert (0, 2) in pairs  # near dup
    # with the guard off, identical docs pair at jaccard 1.0
    pairs_all = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs_df, threshold=0.5, dedup_exact_first=False
        ).collect()
    }
    assert (0, 1) in pairs_all and pairs_all[(0, 1)] == pytest.approx(1.0)
    # verified jaccard is EXACT (candidates re-checked)
    texts = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    for (a, b), j in pairs_all.items():
        assert j == pytest.approx(py_jaccard(texts[a], texts[b]))


def test_simhash(spark, docs_df):
    fps = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs_df).collect()}
    assert fps[0] == fps[1]  # identical docs -> identical fingerprint
    ham_02 = bin(fps[0] ^ fps[2]).count("1")
    ham_03 = bin(fps[0] ^ fps[3]).count("1")
    assert ham_02 < ham_03  # near dup closer than unrelated
    near = simhash_near_pairs(docs_df, max_hamming=ham_02,
                              dedup_exact_first=False).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 1 for r in near)


def test_mass_duplication_bounded(spark):
    """Skew guards (VERDICT round 1): a corpus that is ~overwhelmingly one
    repeated document must not square inside LSH band buckets or the
    shingle self-join.  10k identical docs + a handful of distinct ones
    complete with bounded candidate counts and logged drop counters."""
    boiler = "the end of the day is the time of the day when the sun sets"
    rows = [(i, boiler) for i in range(10_000)]
    rows += [(10_000 + i, f"unique doc sym{i} content alpha beta {i}")
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    # minhash LSH: dedup-first collapses the 10k copies to one canonical;
    # the result mentions no duplicate-pair explosion
    stats = {}
    pairs = minhash_lsh_pairs(df, threshold=0.5, stats_out=stats).collect()
    assert len(pairs) < 25  # nothing squares
    ids_in_pairs = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert len(ids_in_pairs.intersection(range(1, 10_000))) == 0

    # with dedup off, the bucket cap must kick in and be counted
    stats2 = {}
    pairs2 = minhash_lsh_pairs(
        df, threshold=0.5, dedup_exact_first=False, max_bucket_size=100,
        stats_out=stats2,
    ).collect()
    assert stats2["minhash_lsh_buckets"]["dropped_buckets"] > 0
    assert stats2["minhash_lsh_buckets"]["max_bucket"] >= 10_000
    assert len(pairs2) < 25

    # simhash band caps behave the same way
    stats3 = {}
    near = simhash_near_pairs(
        df, max_hamming=3, dedup_exact_first=False, max_bucket_size=100,
        stats_out=stats3,
    ).collect()
    assert stats3["simhash_buckets"]["dropped_buckets"] > 0
    assert len(near) < 25

    # exact jaccard df-cut: the boilerplate shingles are dropped before
    # the self-join (df >= 10k each), so the join stays tiny
    stats4 = {}
    out = ngram_jaccard_pairs(
        df, threshold=0.5, max_shingle_df=100, stats_out=stats4
    ).collect()
    assert stats4["shingle_df_cut"]["dropped_shingles"] > 0
    assert stats4["shingle_df_cut"]["max_df"] >= 10_000
    assert len(out) < 25


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_cosine_topk_matches_numpy(spark, emb_df):
    pdf = emb_df.toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in pdf.itertuples()}
    qids = sorted(vecs)[:3]
    got = cosine_topk(emb_df, qids, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for q in qids:
        qv = vecs[q]
        sims = [
            (v, float(np.dot(qv, vv) / (np.linalg.norm(qv) * np.linalg.norm(vv))))
            for v, vv in vecs.items() if v != q
        ]
        sims.sort(key=lambda t: (-t[1], t[0]))
        exp = sims[:5]
        assert [v for v, _ in by_q[q]] == [v for v, _ in exp]
        for (gv, gc), (ev, ec) in zip(by_q[q], exp):
            assert gc == pytest.approx(ec, abs=1e-9)


def test_embedding_near_dup_exact_vs_lsh(spark, emb_df):
    from terrier_spark.datapipe.simsearch import embedding_near_dup_pairs

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb_df, threshold=0.35,
                                          use_lsh=False).collect()
    }
    assert exact, "threshold too high for this data"
    approx = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb_df, threshold=0.35,
                                          use_lsh=True, n_planes=12,
                                          bands=6).collect()
    }
    # LSH output is a subset of exact pairs with identical cosines
    assert set(approx) <= set(exact)
    for k in approx:
        assert approx[k] == pytest.approx(exact[k], abs=1e-9)
    recall = len(approx) / len(exact)
    assert recall >= 0.3, f"LSH near-dup recall too low: {recall}"


def test_lsh_recall_reasonable(spark, emb_df):
    qids = [0, 1, 2, 3, 4]
    dim = len(emb_df.first()["embedding"])
    exact = cosine_topk(emb_df, qids, k=10).collect()
    approx = lsh_cosine_topk(emb_df, qids, dim=dim, k=10, n_planes=12,
                             bands=6).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello world, it's 42 degrees!")], "doc_id long, text string"
    )
    row = token_counts(df).collect()[0]
    assert row["n_ws_tokens"] == 5
    # hello | world | , | it | ' | s | 42 | degrees | !
    assert row["n_subword_tokens"] == 9
    assert row["n_chars"] == 29


def test_quality_scores(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat with a hat and a bat today ok"),
         (1, "!!! ??? ***")],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in quality_scores(df).collect()}
    assert rows[0]["keep"] is True
    assert rows[1]["keep"] is False
    assert rows[0]["stopword_ratio"] > 0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog went to the park in the morning"),
            (1, "el perro y el gato en la casa de la abuela por la tarde"),
            (2, "der hund und die katze sind mit den kindern zu hause"),
            (3, "xyzzy plugh abracadabra"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r["lang_guess"] for r in language_id(df).collect()}
    assert out == {0: "en", 1: "es", 2: "de", 3: "und"}


def test_language_id_extended_languages(spark):
    df = spark.createDataFrame(
        [
            (0, "le chat est dans la maison pour les vacances qui viennent"),
            (1, "il gatto non sono della casa anche per questo come sempre"),
            (2, "o gato não está para casa com os amigos mais do que antes"),
            (3, "het huis van een kat is niet te koop voor ook maar iets"),
            (4, "huset är på en plats som och att av den för med inte han"),
            (5, "и в доме не было кошки на что это как по но из его"),
            (6, "bir kedi ve bu ev için ile ama çok gibi daha olarak sonra"),
            (7, "ja talo on ei kissa että joka oli mutta hän se kun niin"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r["lang_guess"] for r in language_id(df).collect()}
    assert out == {0: "fr", 1: "it", 2: "pt", 3: "nl", 4: "sv",
                   5: "ru", 6: "tr", 7: "fi"}


def test_char_fingerprints_deterministic(spark):
    df = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "abcdefghij"), (2, "zzzzyyyyxxxx"), (3, "ab")],
        "doc_id long, text string",
    )
    fps = {r["id"]: r["fingerprint"] for r in char_fingerprints(df).collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]
    assert fps[3] is not None  # short doc falls back to whole text


def test_ivf_cosine_recall(spark, emb_df):
    """IVF (trained centroids + probed buckets) recall vs exact
    brute-force top-k, and the anchors variant stays deterministic."""
    from terrier_spark.datapipe.simsearch import (
        cosine_topk,
        ivf_anchors,
        ivf_centroids,
        ivf_cosine_topk,
    )

    qids = [0, 1, 2]
    exact = cosine_topk(emb_df, qids, k=10).toPandas()
    cents = ivf_centroids(emb_df, n_centroids=8)
    assert len(cents) == 8
    got = ivf_cosine_topk(emb_df, qids, cents, k=10, nprobe=4).toPandas()
    hits = total = 0
    for q in qids:
        e = set(exact[exact["query_id"] == q]["vec_id"])
        g = set(got[got["query_id"] == q]["vec_id"])
        hits += len(e & g)
        total += len(e)
    recall = hits / total
    assert recall >= 0.5, recall  # near-orthogonal testdata vectors
    # probing all buckets must reproduce the exact top-k
    full = ivf_cosine_topk(emb_df, qids, cents, k=10, nprobe=8).toPandas()
    for q in qids:
        e = list(exact[exact["query_id"] == q]["vec_id"])
        f = list(full[full["query_id"] == q]["vec_id"])
        assert e == f
    # anchors are purely seed-derived
    a1 = ivf_anchors(64, 8)
    a2 = ivf_anchors(64, 8)
    assert a1 == a2


def test_ann_mass_duplication_bounded(spark):
    """Skew guard for the ANN search paths (VERDICT round 2): a corpus of
    5k near-identical embeddings concentrates one IVF centroid's inverted
    list / one LSH band bucket.  max_bucket_size truncates the hot bucket
    to a deterministic subset (queries still get candidates — search
    truncates, pair-generation drops) and records counters."""
    import numpy as np

    from terrier_spark.datapipe.simsearch import (
        ivf_anchors,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(8)
    rows = [(i, (base + rng.randn(8) * 1e-3).tolist()) for i in range(5000)]
    rows += [(5000 + i, rng.randn(8).tolist()) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)

    cents = ivf_anchors(8, 4)
    stats = {}
    got = ivf_cosine_topk(
        emb, [0, 5000], cents, k=5, nprobe=4,
        max_bucket_size=100, stats_out=stats,
    ).toPandas()
    assert stats["ivf_buckets"]["truncated_buckets"] >= 1
    assert stats["ivf_buckets"]["max_bucket"] >= 5000
    assert stats["ivf_buckets"]["dropped_rows"] > 4000
    # the duplicated query still gets a full top-k from the truncated list
    assert len(got[got["query_id"] == 0]) == 5
    # truncation keeps the cap-lowest ids -> candidates bounded per bucket
    assert got["vec_id"].max() < 5100

    stats2 = {}
    got2 = lsh_cosine_topk(
        emb, [0, 5000], dim=8, k=5, max_bucket_size=100, stats_out=stats2,
    ).toPandas()
    assert stats2["lsh_topk_buckets"]["truncated_buckets"] >= 1
    assert len(got2[got2["query_id"] == 0]) == 5


def test_gopher_quality_rules(spark):
    """The Gopher rules fire individually: a clean English paragraph
    passes; each pathological fixture trips exactly its rule."""
    from terrier_spark.datapipe.textstats import gopher_quality

    clean = (
        "the quick brown fox jumps over the lazy dog and runs off with "
        "that bone to have a very fine day in the meadow while birds "
        "sing softly above the trees and rivers flow gently past all "
        "the stones that line their banks with moss and reeds swaying "
        "under a warm bright summer sun"
    )
    rows = [
        (1, clean),                                    # keep
        (2, "too few words"),                          # word count
        (3, " ".join(["a"] * 60)),                     # mean word len < 3
        (4, clean + " " + "#" * 1 * 0 + " ".join(["#word"] * 30)),  # symbols
        (5, "\n".join(["- bullet line every time"] * 10)),  # bullets
        (6, " ".join(["12345"] * 60)),                 # alpha fraction
        (7, " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 12)),  # stops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in gopher_quality(df).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["n_words"] == 3
    assert got[3]["keep"] is False and got[3]["mean_word_len"] == 1.0
    assert got[4]["keep"] is False and got[4]["symbol_ratio"] > 0.1
    assert got[5]["keep"] is False and got[5]["bullet_frac"] == 1.0
    assert got[6]["keep"] is False and got[6]["alpha_word_frac"] == 0.0
    assert got[7]["keep"] is False and got[7]["stop_hits"] == 0


def test_repetition_scores_rules(spark):
    """Gopher repetition filters: clean text passes; duplicated lines and
    a dominating 2-gram each trip their rule."""
    from terrier_spark.datapipe.textstats import repetition_scores

    clean = "\n".join(
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}" for i in range(10)
    )
    dup_lines = "\n".join(["the same exact line again"] * 10)
    loop_gram = " ".join(["buy now"] * 40)
    rows = [(1, clean), (2, dup_lines), (3, loop_gram), (4, ""), (5, "one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in repetition_scores(df).collect()}
    assert got[1]["keep"] is True and got[1]["dup_line_frac"] == 0.0
    assert got[2]["keep"] is False and got[2]["dup_line_frac"] == 0.9
    assert got[2]["dup_line_char_frac"] == 0.9
    assert got[3]["keep"] is False and got[3]["top_2gram_char_frac"] > 0.2
    # empty / single-word docs: all fractions zero, keep True
    assert got[4]["keep"] is True and got[5]["keep"] is True


def test_pii_scrub(spark):
    from terrier_spark.datapipe.textstats import pii_scrub

    rows = [
        (1, "contact alice.smith+news@example.co.uk or bob@test.org now"),
        (2, "server at 192.168.1.100 and 10.0.0.1 responded"),
        (3, "call +1 (555) 123-4567 or 555 987 6543 today"),
        (4, "no personal data here"),
        (5, "mixed: eve@corp.io from 172.16.254.3 phone 020-7946-0958"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 2
    assert "<|email|>" in got[1]["scrubbed"]
    assert "alice" not in got[1]["scrubbed"]
    assert got[2]["n_ips"] == 2 and got[2]["scrubbed"].count("<|ip|>") == 2
    assert got[3]["n_phones"] == 2
    assert "4567" not in got[3]["scrubbed"]
    assert got[4]["scrubbed"] == "no personal data here"
    assert (got[5]["n_emails"], got[5]["n_ips"]) == (1, 1)
    assert got[5]["n_phones"] >= 1


def test_language_id_hard_fixture(spark):
    """Short, punctuation-attached, code-mixed documents — the cases the
    original 10-word lexicons misclassified as 'und' (zero hits through
    \\S+ tokens like "it's" / "Zeit,").  The ~100-word function-word
    lexicons + letter-run tokenization must classify all of them."""
    docs = [
        (0, "I can't believe it's already done, you know?", "en"),
        (1, "¡Hola! Yo tengo una casa muy grande.", "es"),
        (2, "Ich habe keine Zeit, aber wir gehen morgen.", "de"),
        (3, "Nous avons été très heureux de vous voir hier.", "fr"),
        (4, "Ho visto qualcosa di molto bello, ogni sera!", "it"),
        (5, "Você já tinha visto esse filme? Eu tenho certeza.", "pt"),
        (6, "Wij hebben nooit iets gezegd, omdat het niet mag.", "nl"),
        (7, "Vi skulle aldrig kunna göra detta utan hjälp, eller?", "sv"),
        (8, "Мы уже были там, когда они пришли?", "ru"),
        (9, "Bunu neden yaptığını hiç anlamadım, çünkü çok zordu.", "tr"),
        (10, "Olemme aivan varmoja, että he tulevat ennen iltaa.", "fi"),
        (11, "def main(): return the result of the query  # fix it", "en"),
        (12, "zzz qqq www 12345 !!!", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    got = {r["id"]: r["lang_guess"] for r in language_id(df).collect()}
    expected = {i: lang for i, _, lang in docs}
    wrong = {i: (got[i], expected[i]) for i in expected if got[i] != expected[i]}
    assert not wrong, f"misclassified: {wrong}"


def test_language_id_trigram_zero_function_words(spark):
    """Content with ZERO function words — compound nouns, technical
    vocabulary — where the lexicon vote can only say 'und'.  The
    trigram profiles (derived from the same function-word inventories)
    must recover the orthography; language_id_combined must route these
    through the trigram fallback while leaving lexicon-decidable docs
    untouched."""
    from terrier_spark.datapipe.textstats import (
        language_id_combined,
        language_id_trigram,
    )

    docs = [
        (0, "Schmetterling Geschwindigkeit Wissenschaft", "de"),
        (1, "ylläpitää järjestelmää käyttäjälle", "fi"),
        (2, "gelişmiş uygulamaları çalıştırıyor", "tr"),
        (3, "développeur présentation vérification", "fr"),
        (4, "желательно проверить настройки быстро", "ru"),
        (5, "fantastische ontwikkelingen mogelijkheden", "nl"),
        (6, "funzionalità dell'applicazione velocemente", "it"),
        (7, "utvecklingsmöjligheter förbättringar", "sv"),
        (8, "straightforward implementation thoroughly", "en"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    # the lexicon-only operator sees zero hits everywhere
    lex = {r["id"]: r["lang_guess"] for r in language_id(df).collect()}
    assert all(v == "und" for v in lex.values()), lex
    # the trigram profiles classify all of them
    tri = {r["id"]: r["lang_guess"]
           for r in language_id_trigram(df).collect()}
    assert tri == {i: lang for i, _, lang in docs}, tri
    # combined routes them through the trigram fallback
    comb = {r["id"]: (r["lang_guess"], r["source"])
            for r in language_id_combined(df).collect()}
    assert comb == {i: (lang, "trigram") for i, _, lang in docs}, comb


def test_language_id_combined_lexicon_precedence(spark):
    """Docs WITH function-word hits must keep the lexicon verdict
    (higher precision), trigram only filling the zero-hit gap; empty /
    letterless docs stay 'und'."""
    from terrier_spark.datapipe.textstats import language_id_combined

    df = spark.createDataFrame(
        [
            (0, "the cat and the dog went to the park in the morning"),
            (1, "Schmetterling Geschwindigkeit"),
            (2, "12345 !!! ???"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: (r["lang_guess"], r["source"])
           for r in language_id_combined(df).collect()}
    assert got[0] == ("en", "lexicon")
    assert got[1] == ("de", "trigram")
    assert got[2] == ("und", "none")
    assert got[3] == ("und", "none")
