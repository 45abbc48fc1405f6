"""PII redaction / repetition stats / decontamination (operators/textclean.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.operators.textclean import (
    contamination_overlap,
    ngram_hashes,
    redact_pii,
    repetition_stats,
)


class TestRedactPii:
    def test_all_kinds(self, spark):
        text = (
            "mail bob.smith+x@corp-site.co.uk now, call 415-555-1234 or "
            "(212) 555 9876, ssn 123-45-6789, card 4111 1111 1111 1111, "
            "host 192.168.0.1 end"
        )
        df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
        row = redact_pii(df).collect()[0]
        clean = row["clean_text"]
        assert "[EMAIL]" in clean and "bob.smith" not in clean
        assert "[SSN]" in clean and "123-45-6789" not in clean
        assert "[CC]" in clean and "4111" not in clean
        assert clean.count("[PHONE]") == 2
        assert "[IP]" in clean and "192.168" not in clean
        assert (row["n_email"], row["n_ssn"], row["n_cc"], row["n_phone"], row["n_ipv4"]) == (
            1, 1, 1, 2, 1,
        )

    def test_clean_text_untouched(self, spark):
        df = spark.createDataFrame(
            [("d1", "no sensitive data in this sentence at all")],
            "doc_id string, text string",
        )
        row = redact_pii(df).collect()[0]
        assert row["clean_text"] == "no sensitive data in this sentence at all"
        assert row["n_email"] == 0


class TestRepetitionStats:
    def test_duplicate_lines_and_words(self, spark):
        text = "spam spam spam\nspam spam spam\nunique line here\n\n"
        df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
        row = repetition_stats(df).collect()[0]
        # 3 non-blank lines, one duplicated pair -> (3-2)/3
        assert row["dup_line_frac"] == pytest.approx(1 / 3)
        # duplicated line chars: 2*14 of total 2*14+16
        assert row["dup_line_char_frac"] == pytest.approx(28 / 44)
        # words: spam x6, unique/line/here x1 -> 6/9
        assert row["top_word_frac"] == pytest.approx(6 / 9)
        # bigrams span line breaks (tokenizer splits on non-alnum):
        # "spam spam" at positions 1-2,2-3,3-4,4-5,5-6 of 8 total
        assert row["top_bigram_frac"] == pytest.approx(5 / 8)

    def test_no_repetition(self, spark):
        df = spark.createDataFrame(
            [("d1", "alpha beta\ngamma delta")], "doc_id string, text string"
        )
        row = repetition_stats(df).collect()[0]
        assert row["dup_line_frac"] == 0.0
        assert row["top_word_frac"] == pytest.approx(1 / 4)


class TestContamination:
    def test_overlap_detected(self, spark):
        bench = spark.createDataFrame(
            [("b1", "the quick brown fox jumps over the lazy dog tonight")],
            "bench_id string, text string",
        )
        docs = spark.createDataFrame(
            [
                ("clean", "completely different words in every position here now ok"),
                (
                    "dirty",
                    "prefix words then the quick brown fox jumps over the lazy dog tonight suffix",
                ),
            ],
            "doc_id string, text string",
        )
        out = {r["doc_id"]: r for r in contamination_overlap(docs, bench, n=8).collect()}
        assert "clean" not in out
        assert out["dirty"]["n_hits"] >= 1
        assert 0 < out["dirty"]["overlap_frac"] <= 1.0

    def test_duplicate_bench_ids_still_detected(self, spark):
        """A benchmark keyed by NAME (duplicate bench_id rows) must still
        catch verbatim contamination — the bench side grams per physical
        row (review r4 pass-3 finding #1)."""
        bench = spark.createDataFrame(
            [("b", "alpha beta gamma delta"), ("b", "zeta eta theta iota")],
            "bench_id string, text string",
        )
        docs = spark.createDataFrame(
            [("dirty", "prefix zeta eta theta iota suffix"),
             ("clean", "totally unrelated words right here")],
            "doc_id string, text string",
        )
        out = {r["doc_id"]: r for r in contamination_overlap(docs, bench, n=4).collect()}
        assert "dirty" in out and out["dirty"]["n_hits"] >= 1
        assert "clean" not in out

    def test_ngram_count(self, spark):
        df = spark.createDataFrame(
            [("d", "one two three four five")], "doc_id string, text string"
        )
        assert ngram_hashes(df, 3).count() == 3  # 5 tokens -> 3 trigrams
        assert ngram_hashes(df, 8).count() == 0  # too short

    def test_ngram_hashes_matches_interpreted_builder(self, spark):
        """VERDICT r3 #3: the codegen explode+lead gram builder must emit the
        exact gram MULTISET of the interpreted transform/element_at builder
        it replaced, across empties, sub-n docs, punctuation, unicode, and
        repeated grams."""
        from helpers import ngram_hashes_interpreted

        rows = [
            ("empty", ""),
            ("blank", "   \n\t "),
            ("short", "one two"),
            ("exact", "a b c"),
            ("punct", "Hello, WORLD!! 42 foo--bar baz; qux."),
            ("repeat", "x y z x y z x y z"),
            ("unicode", "café déjà vu café déjà vu encore une fois"),
            ("longish", " ".join(f"w{i % 7}" for i in range(50))),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        for n in (2, 3, 8):
            got = sorted(
                (r["doc_id"], r["gram_hash"]) for r in ngram_hashes(df, n).collect()
            )
            want = sorted(
                (r["doc_id"], r["gram_hash"])
                for r in ngram_hashes_interpreted(df, n).collect()
            )
            assert got == want, f"n={n}"

    def test_ngram_hashes_duplicate_ids_mode(self, spark):
        """unique_id=False keys the window on a per-row id: rows sharing a
        doc_id gram independently, matching the per-row interpreted builder
        (review r4 finding #1 / pass-2 finding #3: the default keeps the
        id-keyed single-exchange path for the unique-id contract)."""
        from helpers import ngram_hashes_interpreted

        rows = [
            ("dup", "alpha beta gamma delta"),
            ("dup", "zeta eta theta iota"),
            ("solo", "one two three four five"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        for n in (2, 3):
            got = sorted(
                (r["doc_id"], r["gram_hash"])
                for r in ngram_hashes(df, n, unique_id=False).collect()
            )
            want = sorted(
                (r["doc_id"], r["gram_hash"])
                for r in ngram_hashes_interpreted(df, n).collect()
            )
            assert got == want, f"n={n}"

    def test_ngram_hashes_plan_is_codegen(self, spark):
        """The corpus-side gram scan must stay in whole-stage codegen: no
        interpreted higher-order functions (transform/element_at) in the
        plan."""
        df = spark.createDataFrame([("d", "a b c d e")], "doc_id string, text string")
        out = ngram_hashes(df, 3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # no per-GRAM interpreted lambdas (the one remaining lambda is the
        # per-ROW empty-token filter inside ascii_word_tokens)
        assert "transform(" not in plan and "element_at(" not in plan
        # codegen spans (the `*(n)` markers) only materialize in the final
        # AQE plan; the gram projection+filter must sit inside one
        out.collect()
        final = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final and "*(" in final

    def test_plan_broadcasts_benchmark(self, spark):
        bench = spark.createDataFrame([("b", "a b c d e f g h")], "bench_id string, text string")
        docs = spark.createDataFrame([("d", "a b c d e f g h i")], "doc_id string, text string")
        plan = contamination_overlap(docs, bench, n=8)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
