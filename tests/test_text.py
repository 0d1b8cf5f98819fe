"""Text analysis functions: tokens, quality, lang-id, fingerprints."""

from __future__ import annotations

import math

import pytest

from aroma_spark.functions.text import fingerprint, lang_id, quality_score, with_text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The cat and the dog walked to the park and back again."),
        (1, "Le chat et le chien et la maison et les arbres du parc."),
        (2, "Der Hund und die Katze und das Haus und der Baum hier."),
        (3, "x9 #! 77"),
        (4, ""),
        (5, None),
        (6, "这 是 一个 中文 文档 的 测试 文本 有 很多 字"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_stats(spark, docs):
    out = with_text_stats(docs).toPandas().set_index("doc_id")
    assert out.loc[0].n_tokens == 12
    assert out.loc[4].n_tokens == 0 and out.loc[5].n_tokens == 0
    assert out.loc[3].n_digit == 3
    assert math.isclose(
        out.loc[0].alpha_ratio, out.loc[0].n_alpha / out.loc[0].n_chars_calc
    )


def test_quality_score_ranges(spark, docs):
    out = quality_score(docs).toPandas().set_index("doc_id")
    assert out.loc[0].quality_score > 0.9
    assert out.loc[3].quality_score < 0.5
    assert out.loc[4].quality_score == 0.0


def test_lang_id(spark, docs):
    out = lang_id(docs).toPandas().set_index("doc_id").lang_pred
    assert out[0] == "en"
    assert out[1] == "fr"
    assert out[2] == "de"
    assert out[4] == "und" and out[5] == "und"
    assert out[6] == "zh"


def test_lang_id_compiles_without_codegen_fallback(spark):
    """The marker counts are read by several pick branches: inlined
    there, the generated stage outgrows the JVM's 64 KB method limit and
    only the codegen fallback keeps the query running."""
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "le chat et les oiseaux"),
         (2, None), (3, "今日はとても良い天気ですね")],
        "doc_id long, text string",
    )
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = lang_id(df).toPandas().set_index("doc_id").lang_pred
    finally:
        spark.conf.set(key, old)
    assert out.to_dict() == {0: "en", 1: "fr", 2: "und", 3: "ja"}


def test_lang_id_wide(spark):
    """Per-language sentence fixture — the measured-accuracy claim in
    COVERAGE.md: 15/15 on one natural sentence per supported language."""
    sents = [
        ("en", "the cat sat on the mat and looked out of the window"),
        ("fr", "le chat dort sur la table et les oiseaux chantent"),
        ("de", "der hund und die katze spielen in das haus hinein"),
        ("es", "el perro corre por los campos y las flores crecen"),
        ("it", "il gatto che dorme di giorno corre per la casa"),
        ("pt", "uma casa com jardim por aqui não existe mais"),
        ("nl", "het huis is een mooi gebouw van steen en niet klein"),
        ("ja", "今日はとても良い天気ですね、散歩に行きましょう"),
        ("zh", "今天天气很好我们一起去公园散步吧"),
        ("ko", "오늘 날씨가 정말 좋아서 공원에 갔어요"),
        ("ru", "сегодня хорошая погода и мы идём гулять в парк"),
        ("ar", "الطقس جميل اليوم ونحن ذاهبون إلى الحديقة"),
        ("el", "ο καιρός είναι ωραίος σήμερα και πάμε βόλτα"),
        ("he", "מזג האוויר יפה היום ואנחנו הולכים לפארק"),
        ("hi", "आज मौसम बहुत अच्छा है और हम पार्क जा रहे हैं"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(sents)], "doc_id long, text string"
    )
    out = lang_id(df).toPandas().set_index("doc_id").lang_pred
    got = [(sents[i][0], out[i]) for i in range(len(sents))]
    assert all(want == pred for want, pred in got), got


def test_fingerprint_normalization(spark):
    rows = [(0, "Hello   World"), (1, "hello world"), (2, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fingerprint(df).toPandas().set_index("doc_id")
    assert out.loc[0].fp_exact != out.loc[1].fp_exact
    assert out.loc[0].fp_norm == out.loc[1].fp_norm
    assert out.loc[2].fp_norm != out.loc[0].fp_norm


def test_repetition_score(spark):
    from aroma_spark.functions.text import repetition_score

    rows = [
        (0, "a b c a b c a b c"),  # 7 grams, 3 distinct -> 4/7
        (1, "one two three four"),  # 2 grams, all distinct -> 0
        (2, "x y"),  # too short -> 0 grams
        (3, None),
        (4, "w w w w w"),  # 3 grams, 1 distinct -> 2/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_score(df).toPandas().set_index("doc_id")
    assert out.loc[0].n_grams_total == 7 and out.loc[0].n_grams_distinct == 3
    assert abs(out.loc[0].repetition - round(4 / 7, 6)) < 1e-9
    assert out.loc[1].repetition == 0.0
    assert out.loc[2].n_grams_total == 0 and out.loc[2].repetition == 0.0
    assert out.loc[3].n_grams_total == 0 and out.loc[3].repetition == 0.0
    assert abs(out.loc[4].repetition - round(2 / 3, 6)) < 1e-9


def test_ngram_overlap_decontamination(spark):
    from aroma_spark.operators.decontam import ngram_overlap

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),  # shares "the quick brown"
            (1, "totally novel text here now"),
            (2, "xx"),  # too short: excluded
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "the quick brown cat")],
        "doc_id long, text string",
    )
    out = ngram_overlap(corpus, heldout, n=3).toPandas().set_index("doc_id")
    assert set(out.index) == {0, 1}
    assert out.loc[0].n_grams == 3 and out.loc[0].n_hit == 1
    assert abs(out.loc[0].overlap - round(1 / 3, 6)) < 1e-9
    assert out.loc[1].n_hit == 0 and out.loc[1].overlap == 0.0


def test_ngram_overlap_bloom_superset_of_exact(spark):
    """Bloom probing may overcount (false positives) but never
    undercount: n_hit_bloom >= n_hit_exact per doc, and with a
    roomy filter the two coincide on this corpus."""
    from aroma_spark.operators.decontam import ngram_overlap, ngram_overlap_bloom

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated words about spark tiers and lattices here")],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    exact = {r["doc_id"]: (r["n_grams"], r["n_hit"])
             for r in ngram_overlap(corpus, heldout).collect()}
    bloom = {r["doc_id"]: (r["n_grams"], r["n_hit"])
             for r in ngram_overlap_bloom(corpus, heldout).collect()}
    assert set(exact) == set(bloom)
    for d in exact:
        assert bloom[d][0] == exact[d][0]
        assert bloom[d][1] >= exact[d][1]
    assert bloom == exact  # 8M-bit filter, 4 items: no false positives


def test_redact_pii(spark):
    from aroma_spark.functions.text import redact_pii

    rows = [
        (0, "write to bob.smith+x@corp.example.com today"),
        (1, "fetch https://a.example.org/p?q=1 and http://b.example.net"),
        (2, "server at 10.1.2.3 and 192.168.0.254 replied"),
        (3, "no pii here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = redact_pii(df).toPandas().set_index("doc_id")
    assert out.loc[0].n_email == 1 and "<EMAIL>" in out.loc[0].text_redacted
    assert "bob.smith" not in out.loc[0].text_redacted
    assert out.loc[1].n_url == 2
    assert out.loc[1].text_redacted == "fetch <URL> and <URL>"
    assert out.loc[2].n_ipv4 == 2 and out.loc[2].text_redacted.count("<IP>") == 2
    assert out.loc[3].text_redacted == "no pii here"
    assert out.loc[4].text_redacted == ""


def test_domain_counts(spark):
    from aroma_spark.functions.text import domain_counts

    rows = [
        (0, "see https://cdn.example.org/a and https://cdn.example.org/b"),
        (1, "also http://cdn.example.org and https://other.example.net/x"),
        (2, "nothing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.domain: (r.n_mentions, r.n_docs)
        for r in domain_counts(df).collect()
    }
    assert out["cdn.example.org"] == (3, 2)
    assert out["other.example.net"] == (1, 1)
    assert len(out) == 2


def test_vocab_growth_daily(spark):
    from pyspark.sql import functions as F

    from aroma_spark.functions.text import vocab_growth_daily

    rows = [
        ("c", 0, "a b a", "2024-01-01 10:00:00"),
        ("c", 1, "b c", "2024-01-02 11:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["day"]): r for r in vocab_growth_daily(df).collect()}
    d1, d2 = out["2024-01-01"], out["2024-01-02"]
    assert (d1["n_tokens"], d1["n_distinct_terms"], d1["n_new_terms"]) == (3, 2, 2)
    assert d1["vocab_size"] == 2 and math.isclose(d1["ttr"], 2 / 3)
    assert (d2["n_tokens"], d2["n_distinct_terms"], d2["n_new_terms"]) == (2, 2, 1)
    assert d2["vocab_size"] == 3 and d2["ttr"] == 1.0


def test_zipf_buckets(spark):
    from aroma_spark.functions.text import zipf_buckets

    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "b c"), (2, None)], "doc_id long, text string"
    )
    # freqs: a=3 (bin 2), b=2 (bin 2), c=1 (bin 1)
    out = {r["freq_bin"]: r for r in zipf_buckets(df).collect()}
    assert set(out) == {1, 2}
    assert (out[2]["n_terms"], out[2]["sum_tokens"]) == (2, 5)
    assert (out[1]["n_terms"], out[1]["sum_tokens"]) == (1, 1)


def test_source_ttr_hand_computed(spark):
    from pyspark.sql import functions as F

    from aroma_spark.functions.text import source_ttr

    df = spark.createDataFrame(
        [
            (1, "the cat sat", "en", "web", 11),
            (2, "the dog", "en", "web", 7),
            (3, "a a a", "en", "feed", 5),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = {r["source"]: r for r in source_ttr(df).collect()}
    web = out["web"]
    # tokens: the,cat,sat,the,dog -> 5 tokens, 4 types, 3 hapax
    assert (web["n_docs"], web["n_tokens"], web["n_types"],
            web["n_hapax"]) == (2, 5, 4, 3)
    assert web["ttr"] == 0.8
    feed = out["feed"]
    assert (feed["n_tokens"], feed["n_types"], feed["n_hapax"]) == (
        3, 1, 0)


def test_lang_source_matrix_lift(spark):
    from aroma_spark.functions.text import lang_source_matrix

    rows = [
        (1, "x", "en", "web", 1), (2, "x", "en", "web", 1),
        (3, "x", "fr", "web", 1),
        (4, "x", "en", "feed", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {(r["lang"], r["source"]): r
           for r in lang_source_matrix(df).collect()}
    enw = out[("en", "web")]
    assert (enw["n_docs"], enw["lang_total"], enw["source_total"],
            enw["corpus_total"]) == (2, 3, 3, 4)
    assert enw["lift"] == round(2 * 4 / (3 * 3), 6)
    frw = out[("fr", "web")]
    assert frw["lift"] == round(1 * 4 / (1 * 3), 6)
    assert len(out) == 3


def test_dup_rate_by_lang(spark):
    from aroma_spark.functions.text import dup_rate_by_lang

    rows = [
        (1, "hello", "en", "web", 5),
        (2, "hello", "en", "feed", 5),   # exact dup of 1
        (3, "world", "en", "web", 5),
        (4, "hello", "fr", "web", 5),    # same text, other lang
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["lang"]: r for r in dup_rate_by_lang(df).collect()}
    en = out["en"]
    assert (en["n_docs"], en["n_distinct"], en["n_dupes"]) == (3, 2, 1)
    assert en["dup_share"] == round(1 / 3, 6)
    assert (out["fr"]["n_dupes"], out["fr"]["dup_share"]) == (0, 0.0)


def test_charclass_by_lang(spark):
    from aroma_spark.functions.text import charclass_by_lang

    rows = [
        (1, "ab 12", "en", "web", 5),   # 2 letters, 2 digits, 1 space
        (2, "xyz", "en", "web", 3),     # 3 letters
        (3, "99", "fr", "web", 2),      # 2 digits
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["lang"]: r for r in charclass_by_lang(df).collect()}
    en = out["en"]
    assert (en["n_docs"], en["n_chars"], en["n_letters"], en["n_digits"],
            en["n_spaces"]) == (2, 8, 5, 2, 1)
    assert en["letter_share"] == round(5 / 8, 6)
    fr = out["fr"]
    assert (fr["digit_share"], fr["letter_share"]) == (1.0, 0.0)


def test_prefix_dup_by_source(spark):
    from aroma_spark.functions.text import prefix_dup_by_source

    rows = [
        (1, "AAAA tail one", "en", "web", 1),
        (2, "AAAA tail two", "en", "web", 1),   # same 4-char prefix
        (3, "BBBB other", "en", "web", 1),
        (4, "AAAA elsewhere", "en", "feed", 1),  # other source
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["source"]: r
           for r in prefix_dup_by_source(df, prefix_len=4).collect()}
    web = out["web"]
    assert (web["n_docs"], web["n_prefixes"], web["n_prefix_dupes"]) == (
        3, 2, 1)
    assert web["prefix_dup_share"] == round(1 / 3, 6)
    assert out["feed"]["n_prefix_dupes"] == 0


def test_source_lang_entropy(spark):
    import math

    from aroma_spark.functions.text import source_lang_entropy

    rows = [
        (1, "x", "en", "web", 1), (2, "x", "en", "web", 1),
        (3, "x", "fr", "web", 1), (4, "x", "fr", "web", 1),
        (5, "x", "en", "feed", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["source"]: r for r in source_lang_entropy(df).collect()}
    web = out["web"]
    assert (web["n_docs"], web["n_en"], web["n_fr"], web["n_other"]) == (
        4, 2, 2, 0)
    # 50/50 split -> ln 2
    assert web["entropy"] == round(math.log(2), 6)
    assert out["feed"]["entropy"] == 0.0


def test_top_term_per_lang(spark):
    from aroma_spark.functions.text import top_term_per_lang

    rows = [
        (1, "cat cat dog", "en", "web", 1),
        (2, "cat", "en", "web", 1),
        # fr: tie between 'le' and 'la' -> lexically smaller wins
        (3, "le la", "fr", "web", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["lang"]: r for r in top_term_per_lang(df).collect()}
    en = out["en"]
    assert (en["top_term"], en["n_term"], en["lang_tokens"]) == (
        "cat", 3, 4)
    assert en["term_share"] == 0.75
    assert out["fr"]["top_term"] == "la"


def test_quality_gate_by_lang(spark):
    from aroma_spark.functions.text import quality_gate_by_lang

    rows = [
        # 5 tokens, all-alpha -> passes both
        (1, "aa bb cc dd ee", "en", "web", 14),
        # 2 tokens -> fails len; alpha-majority passes
        (2, "aa bb", "en", "web", 5),
        # 5 tokens but digit-heavy -> passes len, fails alpha
        (3, "11 22 33 44 5a", "en", "web", 14),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    r = quality_gate_by_lang(df).collect()[0]
    assert (r["n_docs"], r["n_pass_len"], r["n_pass_alpha"],
            r["n_pass_all"]) == (3, 2, 2, 1)
    assert r["pass_all_share"] == round(1 / 3, 6)


def test_word_len_hist(spark):
    from aroma_spark.functions.text import word_len_hist

    rows = [
        (1, "a bb ccc " + "x" * 20, "en", "web", 30),
        (2, "bb", "en", "web", 2),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["word_len"]: r for r in word_len_hist(df).collect()}
    assert out[1]["n_tokens"] == 1
    assert out[2]["n_tokens"] == 2   # two 'bb's
    assert out[3]["n_tokens"] == 1
    assert out[15]["n_tokens"] == 1  # 20-char token pools at the cap
    assert out[2]["share"] == 0.4


def test_cross_source_dup(spark):
    from aroma_spark.functions.text import cross_source_dup

    rows = [
        (1, "shared", "en", "web", 6),
        (2, "shared", "en", "feed", 6),   # same text, other source
        (3, "web-only", "en", "web", 8),
        (4, "shared", "en", "web", 6),    # second copy in web
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["source"]: r for r in cross_source_dup(df).collect()}
    web = out["web"]
    assert (web["n_docs"], web["n_cross_docs"]) == (3, 2)
    assert web["cross_share"] == round(2 / 3, 6)
    assert out["feed"]["cross_share"] == 1.0


def test_quality_by_len_bucket(spark):
    from aroma_spark.functions.text import quality_by_len_bucket

    rows = [
        # 14 chars -> bin(15) len 4 -> bucket 3; passes both gates
        (1, "aa bb cc dd ee", "en", "web", 14),
        # 5 chars -> bucket 2 (bin(6)=110); only 2 tokens -> fails
        (2, "aa bb", "en", "web", 5),
        # empty -> bucket 0, fails
        (3, "", "en", "web", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["bucket"]: r
           for r in quality_by_len_bucket(df).collect()}
    assert (out[3]["lo_chars"], out[3]["n_docs"],
            out[3]["n_pass_all"]) == (7, 1, 1)
    assert out[3]["pass_share"] == 1.0
    assert (out[2]["n_pass_all"], out[0]["n_pass_all"]) == (0, 0)


def test_trending_terms_daily(spark):
    from pyspark.sql import functions as F

    from aroma_spark.functions.text import trending_terms_daily

    rows = [
        # 'x': 4 on day1 -> 6 on day2 = 1.5x with n>=5: qualifies
        ("c", 0, "x x x x z", "2024-01-01 10:00:00"),
        ("c", 1, "x x x x x x y y y y y", "2024-01-02 11:00:00"),
        # 'z': day1 then a GAP to day3 — never qualifies however big
        ("c", 2, "z z z z z z z z", "2024-01-03 09:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = trending_terms_daily(df).collect()
    assert len(out) == 1
    r = out[0]
    # 'y' has no previous day; 'z' skipped a day; only 'x' bursts
    assert (r["term"], str(r["day"]), r["n"], r["prev_n"], r["ratio"]) == (
        "x", "2024-01-02", 6, 4, 1.5)


def test_oov_rate_daily(spark):
    from pyspark.sql import functions as F

    from aroma_spark.functions.text import oov_rate_daily

    rows = [
        ("c", 0, "a a a b", "2024-01-01 10:00:00"),
        ("c", 1, "a b z q", "2024-01-02 11:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["day"]): r
           for r in oov_rate_daily(df, vocab_size=2).collect()}
    # vocab = top-2 terms overall = {a (4), b (2)}; day 2 has z, q OOV
    d1, d2 = out["2024-01-01"], out["2024-01-02"]
    assert (d1["n_tokens"], d1["n_oov"], d1["oov_rate"]) == (4, 0, 0.0)
    assert (d2["n_tokens"], d2["n_oov"], d2["oov_rate"]) == (4, 2, 0.5)
