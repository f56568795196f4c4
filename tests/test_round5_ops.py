"""Round-5 training-data-pipeline operators: Gopher repetition gates,
benchmark decontamination, URL canonicalization dedup, PII redaction.

Each test pins semantics on crafted inputs where the expected values are
hand-computable — the DuckDB oracle parity at fixture scale is covered
separately by the driver contract / mimic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.operators import (
    dedup,
    decontam,
    pii,
    training_prep,
)
from sequential_query_expansion_spark.operators.text_analysis import (
    repetition_stats,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        rows = {
            r["doc_id"]: r
            for r in repetition_stats(
                _docs(
                    spark,
                    [
                        "a a a a",          # max repetition
                        "w x y z",          # no repetition
                        "a b a b a b",      # periodic
                        "solo",             # 1 token: no grams
                        "",                 # empty
                    ],
                )
            ).collect()
        }
        # "a a a a": 4 tokens, dup words 3/4; bigram "a a" x3 of 3 slots;
        # trigram "a a a" x2 of 2 slots
        assert rows[0]["n_tokens"] == 4
        assert rows[0]["dup_word_frac"] == 0.75
        assert rows[0]["top_bigram_frac"] == 1.0
        assert rows[0]["dup_trigram_frac"] == 1.0
        # "w x y z": everything distinct
        assert rows[1]["dup_word_frac"] == 0.0
        assert rows[1]["top_bigram_frac"] == pytest.approx(1.0 / 3, abs=1e-6)
        assert rows[1]["dup_trigram_frac"] == 0.0
        # "a b a b a b": 6 tokens, 2 distinct -> dup 4/6; "a b" x3 of 5;
        # trigrams: aba x2, bab x2 -> all 4 positions duplicated
        assert rows[2]["dup_word_frac"] == pytest.approx(4 / 6, abs=1e-6)
        assert rows[2]["top_bigram_frac"] == pytest.approx(3 / 5, abs=1e-6)
        assert rows[2]["dup_trigram_frac"] == 1.0
        # short/empty docs: guarded to zero, not NULL/descending-sequence
        for i in (3, 4):
            assert rows[i]["top_bigram_frac"] == 0.0
            assert rows[i]["dup_trigram_frac"] == 0.0
        assert rows[4]["n_tokens"] == 0
        assert rows[4]["dup_word_frac"] == 0.0

    def test_zero_shuffle_plan(self, spark):
        plan = repetition_stats(
            _docs(spark, ["a b c"])
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDecontaminate:
    def test_flagging_threshold(self, spark):
        # bench item = 9 tokens -> two distinct 8-grams (t1..t8, t2..t9)
        bench = spark.createDataFrame(
            [(100, "t1 t2 t3 t4 t5 t6 t7 t8 t9")],
            "bench_id long, text string",
        )
        docs = _docs(
            spark,
            [
                "x t1 t2 t3 t4 t5 t6 t7 t8 y",        # 1 of 2 grams -> 0.5
                "t1 t2 t3 t4 t5 t6 t7 t8 t9 pad",     # 2 of 2 -> 1.0
                "t2 t3 t4 t5 t6 t7 t8 w1 w2 w3",      # 7-gram only -> no row
            ],
        )
        out = {
            r["doc_id"]: r
            for r in decontam.ngram_overlap(
                docs, bench, n=8, threshold=0.5
            ).collect()
        }
        assert set(out) == {0, 1}
        assert out[0]["matched_ngrams"] == 1
        assert out[0]["bench_ngrams"] == 2
        assert out[0]["overlap_frac"] == 0.5
        assert out[0]["flagged"] is True
        assert out[1]["overlap_frac"] == 1.0 and out[1]["flagged"] is True

    def test_below_threshold_not_flagged(self, spark):
        bench = spark.createDataFrame(
            [(1, "a1 a2 a3 a4 b1 b2 b3 b4 b5 b6 b7")],  # 4 distinct 8-grams
            "bench_id long, text string",
        )
        docs = _docs(spark, ["z a1 a2 a3 a4 b1 b2 b3 b4 z"])  # 1 of 4
        (row,) = decontam.ngram_overlap(docs, bench, n=8, threshold=0.5).collect()
        assert row["matched_ngrams"] == 1 and row["bench_ngrams"] == 4
        assert row["flagged"] is False

    def test_normalization_both_sides(self, spark):
        # punctuation/case noise must not defeat the match
        bench = spark.createDataFrame(
            [(1, "The, QUICK brown; fox (jumps) over a lazy dog!")],
            "bench_id long, text string",
        )
        docs = _docs(spark, ["pad the quick brown fox jumps over a lazy dog"])
        (row,) = decontam.ngram_overlap(docs, bench, n=8, threshold=0.5).collect()
        assert row["flagged"] is True

    def test_rejects_bad_n(self, spark):
        with pytest.raises(ValueError):
            decontam.ngram_overlap(
                _docs(spark, ["a"]), _docs(spark, ["a"]), n=0
            )

    def test_rejects_short_bench_items(self, spark):
        # a bench item below n tokens yields zero n-grams and could never
        # flag anything — refuse instead of silently passing it as clean
        bench = spark.createDataFrame(
            [(1, "only seven tokens in this short answer")],
            "bench_id long, text string",
        )
        with pytest.raises(ValueError, match="fewer than n=8"):
            decontam.ngram_overlap(_docs(spark, ["pad"]), bench, n=8)

    def test_rejects_null_bench_text(self, spark):
        # NULL text tokenizes to NULL — it must trip the short-item
        # guard, not slip past the < n comparison
        bench = spark.createDataFrame(
            [(1, None)], "bench_id long, text string"
        )
        with pytest.raises(ValueError, match="fewer than n=8"):
            decontam.ngram_overlap(_docs(spark, ["pad"]), bench, n=8)


class TestUrlDedup:
    def test_variants_collapse(self, spark):
        urls = [
            "https://example.org/page",
            "http://www.example.org/page/",
            "HTTPS://EXAMPLE.ORG/page#frag",
            "https://example.org/page?utm_source=feed",
            "https://example.org/other",
        ]
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
        )
        out = {r["canonical"]: r for r in dedup.url_dedup(df).collect()}
        assert set(out) == {"example.org/page", "example.org/other"}
        grp = out["example.org/page"]
        assert grp["n_docs"] == 4
        assert grp["keep_doc"] == 0
        assert grp["dup_docs"] == [1, 2, 3]
        assert out["example.org/other"]["n_docs"] == 1

    def test_mid_url_query_stripped_once(self, spark):
        # '?' strips to end of string even when a '/' follows it, and a
        # www in the PATH is not stripped
        df = spark.createDataFrame(
            [(0, "https://a.org/x?q=1/www.b.com"), (1, "https://a.org/x")],
            "doc_id long, url string",
        )
        out = dedup.url_dedup(df).collect()
        assert len(out) == 1 and out[0]["n_docs"] == 2


class TestLatestSnapshot:
    def test_newest_wins_ties_by_id(self, spark):
        rows = [
            # same page, three crawls: 2 and 3 tie on ts -> id 3 wins
            (1, "https://a.org/x", 100),
            (2, "http://www.a.org/x/", 200),
            (3, "HTTPS://A.ORG/x#f", 200),
            (4, "https://a.org/y", 50),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, url string, warc_ts long"
        )
        out = {r["canonical"]: r for r in dedup.latest_snapshot(df).collect()}
        assert out["a.org/x"]["keep_doc"] == 3
        assert out["a.org/x"]["latest_ts"] == 200
        assert out["a.org/x"]["n_snapshots"] == 3
        assert out["a.org/y"]["keep_doc"] == 4


class TestLineDedup:
    def test_first_occurrence_survives(self, spark):
        texts = [
            "unique a\nfooter line\nunique b",
            "unique c\nfooter line",
            "footer line\nunique d",
        ]
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(_docs(spark, texts)).collect()
        }
        # footer first occurs at (doc 0, pos 1): kept there, dropped later
        assert out[0]["text_dedup"] == "unique a\nfooter line\nunique b"
        assert (out[0]["n_lines"], out[0]["n_kept"]) == (3, 3)
        assert out[1]["text_dedup"] == "unique c"
        assert (out[1]["n_lines"], out[1]["n_kept"]) == (2, 1)
        assert out[2]["text_dedup"] == "unique d"

    def test_intra_doc_duplicates(self, spark):
        (row,) = dedup.line_dedup(
            _docs(spark, ["same line\nmiddle\nsame line"])
        ).collect()
        assert row["text_dedup"] == "same line\nmiddle"
        assert (row["n_lines"], row["n_kept"]) == (3, 2)

    def test_min_count_threshold(self, spark):
        texts = ["twice\na", "twice\nb"]
        out = dedup.line_dedup(_docs(spark, texts), min_count=3).collect()
        # appears twice < 3: untouched everywhere
        assert all(r["n_kept"] == r["n_lines"] for r in out)

    def test_rejects_min_count_below_two(self, spark):
        with pytest.raises(ValueError):
            dedup.line_dedup(_docs(spark, ["a"]), min_count=1)

    def test_regex_metachar_separator_is_literal(self, spark):
        # split must treat sep literally (| is regex alternation)
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(
                _docs(spark, ["a|dup", "dup|b"]), sep="|"
            ).collect()
        }
        assert out[0]["text_dedup"] == "a|dup"
        assert out[1]["text_dedup"] == "b"
        assert (out[1]["n_lines"], out[1]["n_kept"]) == (2, 1)


class TestPiiScan:
    def test_counts_and_redaction(self, spark):
        out = {
            r["doc_id"]: r
            for r in pii.pii_scan(
                _docs(
                    spark,
                    [
                        "mail me at jo.doe+x@sub.example.org today",
                        "no pii in this document",
                        "hosts 10.0.0.1 and 192.168.1.255 up",
                        "call 555-012-3456 or 555.987.6543",
                        "a@b.co 1.2.3.4 555-111-2222",
                    ],
                )
            ).collect()
        }
        assert (out[0]["n_email"], out[0]["has_pii"]) == (1, True)
        assert out[0]["redacted"] == "mail me at [EMAIL] today"
        assert out[1]["has_pii"] is False
        assert out[1]["redacted"] == "no pii in this document"
        assert out[2]["n_ipv4"] == 2
        assert out[2]["redacted"] == "hosts [IPV4] and [IPV4] up"
        assert out[3]["n_phone"] == 2
        assert out[3]["redacted"] == "call [PHONE] or [PHONE]"
        assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (
            1, 1, 1,
        )
        assert out[4]["redacted"] == "[EMAIL] [IPV4] [PHONE]"

    def test_email_swallows_ip_host(self, spark):
        # counts are raw per-pattern matches on the ORIGINAL text, while
        # redaction is sequential — an IP inside a mail host is masked as
        # part of the address, never left half-redacted
        (row,) = pii.pii_scan(_docs(spark, ["x mail@192.168.0.1.host.com y"])).collect()
        assert row["n_email"] == 1 and row["n_ipv4"] == 1
        assert row["redacted"] == "x [EMAIL] y"

    def test_email_with_ipv4_literal_host(self, spark):
        (row,) = pii.pii_scan(_docs(spark, ["x user@1.2.3.4 y"])).collect()
        assert row["n_email"] == 1 and row["n_ipv4"] == 1
        assert row["redacted"] == "x [EMAIL] y"

    def test_boundaries_hold(self, spark):
        # digits glued to letters are not phones/IPs (\b), and a bare
        # domain without '@' is not an email
        (row,) = pii.pii_scan(
            _docs(spark, ["v1.2.3.4x example.org build555-123-4567"])
        ).collect()
        assert row["has_pii"] is False

    def test_zero_shuffle_plan(self, spark):
        plan = (
            pii.pii_scan(_docs(spark, ["a@b.co"]))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


def _sourced(spark, n=60):
    return spark.createDataFrame(
        [(i, f"src{i % 3}", "w " * (i % 5 + 1)) for i in range(n)],
        "doc_id long, source string, text string",
    )


class TestMixtureSample:
    def test_rates_and_weights(self, spark):
        out = training_prep.mixture_sample(
            _sourced(spark), {"src0": 0.0, "src1": 0.5}
        ).toPandas()
        assert (out["source"] != "src0").all()  # rate 0 drops everything
        # default rate 1.0: every src2 doc survives with weight 1
        assert (out[out.source == "src2"]["sample_weight"] == 1.0).all()
        assert len(out[out.source == "src2"]) == 20
        kept1 = out[out.source == "src1"]
        assert (kept1["sample_weight"] == 2.0).all()
        assert 0 < len(kept1) < 20  # a real subsample, not all-or-nothing

    def test_deterministic_across_runs(self, spark):
        a = training_prep.mixture_sample(_sourced(spark), {"src1": 0.3})
        b = training_prep.mixture_sample(_sourced(spark), {"src1": 0.3})
        assert sorted(r["doc_id"] for r in a.collect()) == sorted(
            r["doc_id"] for r in b.collect()
        )

    def test_salt_changes_sample(self, spark):
        a = training_prep.mixture_sample(
            _sourced(spark), {}, default_rate=0.5, salt="s1"
        )
        b = training_prep.mixture_sample(
            _sourced(spark), {}, default_rate=0.5, salt="s2"
        )
        ids = lambda df: sorted(r["doc_id"] for r in df.collect())
        assert ids(a) != ids(b)

    def test_rejects_bad_rate(self, spark):
        with pytest.raises(ValueError):
            training_prep.mixture_sample(_sourced(spark), {"src0": 1.5})


class TestPackSequences:
    def test_hand_computed_bins(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (2, 3), (3, 4), (4, 2), (5, 6), (6, 1)],
            "doc_id long, n_tokens long",
        )
        out = {
            r["doc_id"]: r
            for r in training_prep.pack_sequences(df, capacity=8).collect()
        }
        # cumulative starts: 0, 5, 8, 12, 14, 20
        assert [out[i]["start_tok"] for i in range(1, 7)] == [0, 5, 8, 12, 14, 20]
        assert [out[i]["bin_id"] for i in range(1, 7)] == [0, 0, 1, 1, 1, 2]
        # only doc 5 (start 14, 6 tokens: 6 past offset 6 of bin 1) crosses
        assert [i for i in range(1, 7) if out[i]["overflow"]] == [5]

    def test_partitioning_invariant(self, spark):
        df = spark.createDataFrame(
            [(i, (i * 7) % 11 + 1) for i in range(200)],
            "doc_id long, n_tokens long",
        )
        a = training_prep.pack_sequences(df.repartition(1), 64).toPandas()
        b = training_prep.pack_sequences(df.repartition(13), 64).toPandas()
        a = a.sort_values("doc_id").reset_index(drop=True)
        b = b.sort_values("doc_id").reset_index(drop=True)
        assert a.equals(b)

    def test_rejects_bad_capacity(self, spark):
        with pytest.raises(ValueError):
            training_prep.pack_sequences(
                spark.createDataFrame([(1, 1)], "doc_id long, n_tokens long"), 0
            )

    def test_duplicate_ids_get_distinct_offsets(self, spark):
        # ROWS frame: id-peers must receive distinct telescoping offsets,
        # not a shared RANGE-frame cumsum
        df = spark.createDataFrame(
            [(7, 5), (7, 5)], "doc_id long, n_tokens long"
        )
        out = training_prep.pack_sequences(df, capacity=8)
        assert sorted(r["start_tok"] for r in out.collect()) == [0, 5]

    @pytest.mark.parametrize(
        "rows, n_null",
        [([(1, None), (2, None)], 2), ([(1, 5), (2, None), (3, 4)], 1)],
        ids=["all_null", "some_null"],
    )
    def test_rejects_null_token_counts(self, spark, rows, n_null):
        # an all-NULL range partition has no token sum (TypeError on
        # int(None)); a NULL among counts would get a NULL start offset
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        with pytest.raises(ValueError, match=rf"^{n_null} row\(s\) have a NULL"):
            training_prep.pack_sequences(df, capacity=8)
