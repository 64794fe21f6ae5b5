"""Content assertions for the hash-defined dedup signatures (VERDICT
round-1 item 4): the SimHash operator's signature values are checked
bit-for-bit against an independent pure-Python reference on crafted
documents — including the short-doc and empty-doc fallback paths."""

from __future__ import annotations

from hashlib import blake2b

from universal_data_to_orc_converter_spark.registry import load_all_queries

from .conftest import _write_documents

_M = (1 << 64) - 1
_K1 = 0xBF58476D1CE4E5B9
_K2 = 0x94D049BB133111EB


def _fin(x: int) -> int:
    x ^= x >> 30
    x = (x * _K1) & _M
    x ^= x >> 27
    x = (x * _K2) & _M
    x ^= x >> 31
    return x


def _tokhash(t: str) -> int:
    return int.from_bytes(blake2b(t.encode(), digest_size=8).digest(), "little")


def ref_simhash(text: str) -> int:
    """Reference SimHash in plain Python ints: majority vote per bit
    over the DISTINCT splitmix64-mixed 3-gram shingle hashes; <3-token
    docs fold all token hashes into one whole-document shingle."""
    # token spec = textprep.tokens: literal-space split, empties
    # dropped (NOT \s+ — the Arrow kernel was realigned to the exact
    # tier's tokenizer in r11)
    th = [_tokhash(t) for t in text.lower().split(" ") if t != ""]
    if len(th) >= 3:
        sh = {
            _fin(((th[i] * _K1) & _M) ^ ((th[i + 1] * _K2) & _M) ^ th[i + 2])
            for i in range(len(th) - 2)
        }
    else:
        acc = 0xDEADBEEF
        for v in th:
            acc = ((acc ^ v) * _K1) & _M
        sh = {_fin(acc)}
    sig = 0
    for b in range(64):
        cnt = sum((s >> b) & 1 for s in sh)
        if 2 * cnt >= len(sh):
            sig |= 1 << b
    return sig


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def test_simhash_signature_values_on_crafted_docs(spark, tmp_path):
    docs = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "two tokens",          # whole-doc fallback
        "single",              # whole-doc fallback
        "",                    # empty doc: fold of zero tokens
        "rep rep rep rep rep",  # one distinct shingle, repeated
    ]
    sf = _write_documents(spark, tmp_path, docs)
    q = load_all_queries()["op_dedup_simhash"]
    rows = {r["doc_id"]: r for r in q.fn(spark, sf).collect()}
    assert set(rows) == set(range(len(docs)))
    for i, text in enumerate(docs):
        expect = ref_simhash(text)
        got = rows[i]["simhash"]
        assert got == _signed64(expect), f"doc {i}: {got:#x} != {expect:#x}"
        for c in range(4):
            assert rows[i][f"chunk{c}"] == (expect >> (16 * c)) & 0xFFFF


def test_simhash_near_dups_close_identical_docs_equal(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    edited = base.replace("delta", "delty", 1)
    sf = _write_documents(spark, tmp_path, [base, base, edited])
    q = load_all_queries()["op_dedup_simhash"]
    rows = {r["doc_id"]: r["simhash"] for r in q.fn(spark, sf).collect()}
    assert rows[0] == rows[1]  # identical docs: identical signature
    ham = bin((rows[0] ^ rows[2]) & _M).count("1")
    assert ham <= 16, f"near-dup hamming {ham} too high"


def test_pii_redaction_on_crafted_docs(spark, tmp_path):
    """Fixture text carries no PII, so prove the redaction behavior on
    crafted docs: emails and phone-like digit runs are replaced and
    counted; clean text passes through untouched."""
    docs = [
        "contact me at jane.doe+spam@example.co.uk for details",
        "call +1 (555) 123-4567 or 555 867 5309 now",
        "bob@site.org and carol@site.org share 020 7946 0958",
        "no pii here at all",
    ]
    sf = _write_documents(spark, tmp_path, docs)
    q = load_all_queries()["op_pii_redact"]
    rows = {r["doc_id"]: r for r in q.fn(spark, sf).collect()}
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] == 0
    assert "<EMAIL>" in rows[0]["redacted"]
    assert "jane" not in rows[0]["redacted"]
    assert rows[1]["n_emails"] == 0 and rows[1]["n_phones"] == 2
    assert rows[1]["redacted"].count("<PHONE>") == 2
    assert rows[2]["n_emails"] == 2 and rows[2]["n_phones"] == 1
    assert rows[3]["redacted"] == docs[3]
    assert rows[3]["n_emails"] == 0 and rows[3]["n_phones"] == 0


def test_repetition_signals_on_crafted_docs(spark, tmp_path):
    """A keyword-stuffed doc scores near 1.0 on repetition fractions; a
    varied doc scores low; short docs get NULLs."""
    docs = [
        "buy now " * 30,                                   # stuffed
        "the quick brown fox jumps over the lazy dog today",  # varied
        "solo",                                            # too short
    ]
    sf = _write_documents(spark, tmp_path, docs)
    q = load_all_queries()["op_text_repetition"]
    rows = {r["doc_id"]: r for r in q.fn(spark, sf).collect()}
    assert rows[0]["top_bigram_frac"] > 0.49
    assert rows[0]["dup_trigram_frac"] > 0.9
    assert rows[1]["top_bigram_frac"] <= 0.2
    assert rows[1]["dup_bigram_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] is None
    assert rows[2]["dup_trigram_frac"] is None


def test_url_canonicalizer_is_idempotent(spark):
    """canonicalize_url(canonicalize_url(x)) == canonicalize_url(x)
    for a battery of adversarial URLs — including ones already
    canonical, ones where the utm param is first / last / the only
    param, mixed-case hosts, default ports, and fragments. A
    canonicalizer that moves on re-application corrupts incremental
    crawl frontiers (old keys no longer match fresh ones)."""
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.dedup import (
        canonicalize_url,
    )

    urls = [
        "http://www.src1.example.com/docs/3",
        "HTTP://WWW.SRC1.example.com/docs/3/",
        "Http://www.src2.example.com:80/docs/4?utm_source=feed",
        "http://www.src2.example.com/docs/4?utm_source=feed&page=4",
        "http://www.src3.example.com/docs/5?page=5&x=1#frag",
        "https://www.src4.example.com/docs/6?utm_campaign=x#top",
        "https://www.src4.example.com/docs/6",
        "http://www.src5.example.com:80/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = canonicalize_url(F.col("url"))
    twice = canonicalize_url(canonicalize_url(F.col("url")))
    rows = df.select(
        F.col("url"), once.alias("c1"), twice.alias("c2")
    ).collect()
    moved = [(r.url, r.c1, r.c2) for r in rows if r.c1 != r.c2]
    assert not moved, f"canonicalizer not idempotent: {moved}"


def test_span_excise_cuts_exactly_the_shared_windows(spark, tmp_path):
    """Hand-built corpus pins the excision semantics: the 8-token span
    shared verbatim by docs 0 and 1 is cut from BOTH (every position
    any shared 8-gram covers), doc-unique text survives, and a doc
    with no shared spans passes through byte-identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_data_to_orc_converter_spark.operators.text import (
        op_span_excise,
    )

    span = "one two three four five six seven eight"
    docs = [
        f"alpha beta {span} gamma",
        f"delta {span} epsilon zeta",
        "totally unique words that repeat nowhere else at all",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(3), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_excised"], r["clean_text"])
        for r in op_span_excise(spark, str(tmp_path)).collect()
    }
    # doc 0: 11 tokens; the shared 8-gram occupies positions 3..10
    assert got[0] == (11, 8, "alpha beta gamma")
    # doc 1: 11 tokens; span at positions 2..9
    assert got[1] == (11, 8, "delta epsilon zeta")
    # doc 2 untouched
    assert got[2] == (9, 0, docs[2])


def test_span_excise_survives_empty_and_tiny_docs(spark, tmp_path):
    """Edge docs the fixture lacks: an EMPTY text (0 tokens — Spark's
    sequence(1, 0) is the descending [1, 0], so an unguarded rebuild
    calls element_at(t, 0) and throws) and a sub-8-token doc must both
    pass through unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_data_to_orc_converter_spark.operators.text import (
        op_span_excise,
    )

    docs = ["", "   ", "just three tokens"]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(3), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_excised"], r["clean_text"])
        for r in op_span_excise(spark, str(tmp_path)).collect()
    }
    assert got[0] == (0, 0, "")
    assert got[1] == (0, 0, "")
    assert got[2] == (3, 0, "just three tokens")


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """The op's reason to exist: a short doc fully quoted inside a
    much longer one has containment 1.0 but Jaccard |A|/|B| — below
    any dedup threshold. Build that corpus and check the asymmetry."""
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    short = "alpha beta gamma delta epsilon zeta"
    # the long doc embeds the short one verbatim amid unique filler
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    long_doc = filler + " " + short + " " + " ".join(
        f"p{i} q{i}" for i in range(40)
    )
    df = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id bigint, text string"
    )
    sh = df.select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
    sets = {r["doc_id"]: set(r["s"]) for r in sh.collect()}
    inter = len(sets[1] & sets[2])
    containment_short = inter / len(sets[1])
    jaccard = inter / len(sets[1] | sets[2])
    assert containment_short == 1.0, "short doc fully contained"
    assert jaccard < 0.1, "Jaccard blind to the inclusion"


def test_prefix_filtered_jaccard_is_lossless_vs_inverted_index(spark):
    """The AllPairs/PPJoin prefix lemma claims the filter is LOSSLESS:
    op_dedup_jaccard_prefix must return bit-identical rows to the full
    inverted-index op on the real fixture corpus (which contains both
    exact clones and near-dup mutations around the 0.7 threshold)."""
    from .conftest import SF_DIR

    qs = load_all_queries()
    base = sorted(
        map(tuple, qs["op_dedup_ngram_jaccard"].fn(spark, SF_DIR).collect())
    )
    pref = sorted(
        map(tuple, qs["op_dedup_jaccard_prefix"].fn(spark, SF_DIR).collect())
    )
    assert len(base) > 0, "fixture must produce pairs or the test is vacuous"
    assert pref == base


def test_prefix_filter_survives_boundary_thresholds(spark, tmp_path):
    """Crafted pairs that sit exactly AT and just BELOW J = 0.7 — the
    prefix arithmetic (ceil, +1) is off-by-one-prone precisely at the
    boundary. 7 shared + 3 unique each => J = 7/13 (drop); 9 shared +
    1 unique on one side only => J = 9/10 (keep); identical docs =>
    J = 1.0 (keep)."""
    qs = load_all_queries()
    shared = " ".join(f"s{i} s{i}x s{i}y" for i in range(9))
    docs = [
        # identical pair (0,1): J = 1.0, keep
        shared,
        shared,
        # near pair (2,3): doc 3 appends unique filler — J above 0.7
        shared,
        shared + " extraA extraB",
        # far pair (4,5): small overlap, must drop
        "common one two three unique5a unique5b unique5c",
        "common one two three other6a other6b other6c other6d",
    ]
    sf = _write_documents(spark, tmp_path, docs)
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in qs["op_dedup_jaccard_prefix"].fn(spark, sf).collect()
    }
    base = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in qs["op_dedup_ngram_jaccard"].fn(spark, sf).collect()
    }
    assert out == base
    assert out[(0, 1)] == 1.0
    assert (2, 3) in out and out[(2, 3)] >= 0.7
    assert (4, 5) not in out


def test_ceil_mul_div_matches_exact_rational(spark):
    """_ceil_mul_div must equal Fraction-exact ceil(num*s/den) for
    every size up to 20k — the double-rounding hazard it replaces
    (F.ceil(s * lit(0.7))) is exactly an off-by-one at boundaries."""
    from fractions import Fraction
    from math import ceil

    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _ceil_mul_div,
    )

    for num, den in ((7, 10), (9, 10), (7, 17)):
        got = (
            spark.range(1, 20001)
            .select(_ceil_mul_div(F.col("id"), num, den).alias("c"))
            .collect()
        )
        for s, row in enumerate(got, start=1):
            want = ceil(Fraction(num * s, den))
            assert row["c"] == want, (num, den, s, row["c"], want)


def test_prefix_and_position_filters_lossless_on_random_corpora(
    spark, tmp_path
):
    """Seeded-random corpora over a tiny vocabulary produce dense
    boundary-straddling Jaccard/containment values — the adversarial
    regime for the prefix/positional pruning arithmetic. Both
    prefix-filtered ops must equal an independent brute-force Python
    computation over the same shingle sets (not just the sibling op:
    a shared bug would cancel out)."""
    import random

    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    qs = load_all_queries()
    rng = random.Random(0xC0FFEE)
    vocab = [f"w{i}" for i in range(8)]
    docs = []
    for _ in range(40):
        n = rng.randint(1, 12)
        docs.append(" ".join(rng.choice(vocab) for _ in range(n)))
    # a few exact clones and near-clones to guarantee >=0.7 pairs
    docs += [docs[0], docs[1], docs[2] + " extra"]

    sf = _write_documents(spark, tmp_path, docs)
    sh_rows = (
        spark.read.parquet(str(tmp_path / "documents.parquet"))
        .select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
        .collect()
    )
    sets = {r["doc_id"]: set(r["s"]) for r in sh_rows}
    ids = sorted(sets)
    want_jac, want_cont = set(), set()
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            inter = len(sets[i] & sets[j])
            if not inter:
                continue
            union = len(sets[i] | sets[j])
            if inter / union >= 0.7:
                want_jac.add((i, j))
            if inter / len(sets[i]) >= 0.9:
                want_cont.add((i, j))  # i contained in j
            if inter / len(sets[j]) >= 0.9:
                want_cont.add((j, i))
    got_jac = {
        (r["doc_a"], r["doc_b"])
        for r in qs["op_dedup_jaccard_prefix"].fn(spark, sf).collect()
    }
    got_cont = {
        (r["doc_sub"], r["doc_super"])
        for r in qs["op_dedup_containment"].fn(spark, sf).collect()
    }
    assert got_jac == want_jac
    assert got_cont == want_cont
    assert want_jac and want_cont, "corpus must exercise both thresholds"


def test_shingles_match_python_reference_on_adversarial_docs(
    spark, tmp_path
):
    """Semantic pin for the r9 let-binding refactor of shingles():
    the rewrite routed the token array through a single-element
    transform (textprep.let), which must be a pure evaluation-order
    change. Compare against an independent pure-Python reference on
    adversarial docs — empty, whitespace-only, runs of spaces,
    below/at/above the 3-token fallback boundary, embedded tabs and
    newlines (tokens splits on the LITERAL space, so they stay inside
    tokens), mixed case, accented latin, and seeded-random docs."""
    import random

    crafted = [
        None,  # NULL text: concat_ws folds it to the [''] sentinel
        "",
        " ",
        "     ",
        "one",
        "one two",
        "one two three",
        "one two three four",
        "  leading and   multiple   spaces  ",
        "Tab\tinside token",
        "line\nbreak stays in token",
        "MiXeD CaSe TOKENS here",
        "àccénted wörds çomposé tokens",
        "a a a a a a",
    ]
    rng = random.Random(0xBEEF)
    vocab = ["w%d" % i for i in range(6)] + ["W0", "x\ty", "a\nb"]
    for _ in range(60):
        n = rng.randint(0, 15)
        sep = lambda: " " * rng.randint(1, 3)  # noqa: E731
        crafted.append(sep().join(rng.choice(vocab) for _ in range(n)))

    def ref_shingles(text) -> list[str]:
        t = [x for x in (text or "").lower().split(" ") if x != ""]
        if len(t) >= 3:
            grams = [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]
        else:
            grams = [" ".join(t)]
        out, seen = [], set()
        for g in grams:  # array_distinct keeps first-occurrence order
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(crafted)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", shingles(tokens(F.col("text"))).alias("s")
        ).collect()
    }
    for i, text in enumerate(crafted):
        assert got[i] == ref_shingles(text), (i, repr(text))


def test_hash_injectivity_guard_passes_and_raises(spark):
    """The r9 int64 relabeling of the exact-pair ops is exact only
    under per-corpus hash injectivity, certified at runtime by
    _assert_shingle_hash_injective. (a) The certificate must PASS on
    the real fixture vocabulary; (b) the collision branch must RAISE —
    exercised via an injected degenerate hash, since a genuine
    xxhash64 collision cannot be crafted."""
    import pytest
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.catalog import load
    from universal_data_to_orc_converter_spark.operators.dedup import (
        _assert_shingle_hash_injective,
    )
    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    from .conftest import SF_DIR

    sh = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
    )
    _assert_shingle_hash_injective(sh)  # fixture vocab: no collision
    with pytest.raises(ValueError, match="collision"):
        _assert_shingle_hash_injective(sh, hash_expr=lambda c: F.lit(1))


def test_hashed_relabel_preserves_intersections(spark):
    """Independent element-level check of the relabeling claim: for
    fixture doc pairs, |xxhash64(A) ∩ xxhash64(B)| must equal
    |A ∩ B| computed over the string sets (no within-pair collision
    merging two distinct shared shingles). Checked in Python over a
    doc sample so a Spark-side bug can't cancel out."""
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.catalog import load
    from universal_data_to_orc_converter_spark.operators.dedup import (
        _hashed_shingle_sets,
    )
    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    from .conftest import SF_DIR

    sh = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
        .withColumn("size", F.size("s"))
        .limit(200)
    )
    rows = (
        sh.join(_hashed_shingle_sets(sh).withColumnRenamed("hs", "h"),
                ["doc_id", "size"])
        .collect()
    )
    sets = {r["doc_id"]: (set(r["s"]), set(r["h"])) for r in rows}
    assert all(len(s) == len(h) for s, h in sets.values())
    ids = sorted(sets)[:80]
    checked = 0
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            s_int = len(sets[i][0] & sets[j][0])
            h_int = len(sets[i][1] & sets[j][1])
            assert s_int == h_int, (i, j, s_int, h_int)
            checked += s_int > 0
    assert checked > 0, "sample must contain overlapping pairs"


def test_exact_jaccard_ops_share_one_oracle_object(spark):
    """The prefix op's losslessness contract is 'identical oracle' —
    pin that both registrations reference the SAME SQL text so a
    future edit to one cannot silently desync the other (the guard
    the shared _JACCARD_ORACLE constant exists for)."""
    qs = load_all_queries()
    assert (
        qs["op_dedup_ngram_jaccard"].oracle
        == qs["op_dedup_jaccard_prefix"].oracle
    )
    assert (
        qs["op_quantile_histogram_maintain"].oracle
        == qs["op_stream_quantiles"].oracle
    )


def test_hot_bucket_guard_fires_on_skewed_corpus_and_passes_fixture(
    spark, tmp_path
):
    """r9 verdict `weak`: nothing stopped a user pointing the plain
    inverted-index Jaccard op at a corpus whose hottest shingle bucket
    makes the candidate join quadratic. (a) The guard must RAISE on a
    crafted hot-shingle corpus (one phrase shared by every doc: that
    bucket alone emits n² candidate rows) with the prescriptive
    message naming the scale-safe tiers; (b) it must PASS the real
    fixture (healthy max_df/docs is ~0.01, PERF.md r10); (c) the op
    wrapper must surface the same error end-to-end."""
    import pytest

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _HOT_BUCKET_MIN_DF,
        exact_jaccard_pairs,
    )
    from universal_data_to_orc_converter_spark.registry import load_all_queries

    from .conftest import SF_DIR

    n = _HOT_BUCKET_MIN_DF  # every doc shares the hot phrase
    docs = [f"the common refrain uniq{i} word{i % 7} tail{i}" for i in range(n)]
    sf = _write_documents(spark, tmp_path, docs)
    d = spark.read.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(ValueError, match="op_dedup_jaccard_prefix"):
        exact_jaccard_pairs(d)

    # same failure through the registered op (corpus_key memo path)
    with pytest.raises(ValueError, match="hot shingle bucket"):
        load_all_queries()["op_dedup_ngram_jaccard"].fn(spark, sf)

    # and the real fixture constructs (and still evaluates) fine
    out = load_all_queries()["op_dedup_ngram_jaccard"].fn(spark, SF_DIR)
    assert out.count() >= 0


def test_hot_bucket_guard_propagates_through_split_contamination(
    spark, tmp_path
):
    """TODO_r12 stretch (c): op_split_contamination COMPOSES the
    guarded plain-Jaccard pair graph, so a hot-shingle corpus that
    would make the composed audit quadratic must be refused at
    construction with the same prescriptive error — the guard is not
    bypassable by reaching the inverted index through a wrapper op."""
    import pytest

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _HOT_BUCKET_MIN_DF,
    )
    from universal_data_to_orc_converter_spark.registry import load_all_queries

    n = _HOT_BUCKET_MIN_DF
    docs = [f"the common refrain uniq{i} word{i % 7} tail{i}" for i in range(n)]
    sf = _write_documents(spark, tmp_path, docs)
    with pytest.raises(ValueError, match="hot shingle bucket"):
        load_all_queries()["op_split_contamination"].fn(spark, sf)


def test_corpus_certificates_memoized_per_session(spark):
    """r9 advice: constructing BOTH exact-pair ops over the same
    corpus must run the (eager, full-tokenize) injectivity certificate
    once, not twice. Proof by poison: after a real certification, a
    SECOND guard call with the same corpus_key is handed a frame whose
    evaluation raises — a memo hit returns without ever executing it;
    a memo miss (different corpus_key, or no key) must still run and
    blow up."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import CapturedException

    from universal_data_to_orc_converter_spark.catalog import load
    from universal_data_to_orc_converter_spark.operators.dedup import (
        _CORPUS_CERTS,
        _assert_no_hot_shingle_bucket,
        _assert_shingle_hash_injective,
        _corpus_fingerprint,
    )
    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    from .conftest import SF_DIR

    _CORPUS_CERTS.clear()
    app = spark.sparkContext.applicationId
    fp = _corpus_fingerprint(SF_DIR)
    sh = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
    )
    _assert_shingle_hash_injective(sh, corpus_key=SF_DIR)
    _assert_no_hot_shingle_bucket(sh, corpus_key=SF_DIR)
    assert (app, SF_DIR, fp, "injective") in _CORPUS_CERTS
    assert (app, SF_DIR, fp, "hot_bucket") in _CORPUS_CERTS

    poisoned = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.array(F.raise_error("guard should not have evaluated")).alias("s"),
    )
    # memo hit: returns without executing the poisoned frame
    _assert_shingle_hash_injective(poisoned, corpus_key=SF_DIR)
    _assert_no_hot_shingle_bucket(poisoned, corpus_key=SF_DIR)
    # memo miss (unknown corpus / no key): the guard really runs
    with pytest.raises(CapturedException):
        _assert_shingle_hash_injective(poisoned, corpus_key="/elsewhere")
    with pytest.raises(CapturedException):
        _assert_no_hot_shingle_bucket(poisoned)


def test_corpus_certificate_invalidated_on_rewrite(spark, tmp_path):
    """ADVICE r10: the certificate memo keyed on (session, path) alone
    silently skipped the guards when a corpus was REWRITTEN at the same
    path mid-session. The memo key now folds in a metadata fingerprint
    (file sizes + mtimes), so: certify a corpus, rewrite the parquet at
    the same path, and a poisoned frame handed to the guard with the
    SAME corpus_key must still RUN (memo miss on the new fingerprint),
    not silently pass."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import CapturedException

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _assert_no_hot_shingle_bucket,
        _corpus_fingerprint,
    )
    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    sf = _write_documents(
        spark, tmp_path, [f"unique doc number {i} body text" for i in range(8)]
    )
    d = spark.read.parquet(str(tmp_path / "documents.parquet"))
    sh = d.select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
    fp_before = _corpus_fingerprint(sf)
    _assert_no_hot_shingle_bucket(sh, corpus_key=sf)

    # memo hit while the path's contents are unchanged
    poisoned = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.array(F.raise_error("memo hit expected")).alias("s"),
    )
    _assert_no_hot_shingle_bucket(poisoned, corpus_key=sf)

    # rewrite the corpus at the SAME path → fingerprint changes →
    # the guard really runs again
    _write_documents(
        spark, tmp_path, [f"rewritten doc {i} other words" for i in range(9)]
    )
    assert _corpus_fingerprint(sf) != fp_before
    with pytest.raises(CapturedException):
        _assert_no_hot_shingle_bucket(poisoned, corpus_key=sf)

    # non-local URIs fall back to bare-path memoization (documented)
    assert _corpus_fingerprint("s3://bucket/prefix") == ""


def test_hot_bucket_guard_escape_hatch(spark, tmp_path):
    """ADVICE r10: the hot-bucket refusal is advisory for direct
    callers — ``exact_jaccard_pairs(d, allow_hot_buckets=True)`` must
    run the corpus the guard refuses (a boilerplate-heavy corpus where
    the caller accepts the Σ bucket² cost) and return correct pairs.
    The planted near-dup pair must surface despite the hot bucket."""
    import pytest

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _HOT_BUCKET_MIN_DF,
        exact_jaccard_pairs,
    )

    n = _HOT_BUCKET_MIN_DF
    docs = [f"the common refrain uniq{i} word{i % 7} tail{i}" for i in range(n)]
    docs[3] = docs[2]  # planted exact dup → jaccard 1.0
    _write_documents(spark, tmp_path, docs)
    d = spark.read.parquet(str(tmp_path / "documents.parquet"))

    with pytest.raises(ValueError, match="hot shingle bucket"):
        exact_jaccard_pairs(d)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(d, allow_hot_buckets=True).collect()
    }
    assert (2, 3) in pairs


def test_asymmetric_indexing_prefix_exact_boundary_pair(spark, tmp_path):
    """Triple-boundary pin for the r10 asymmetric indexing prefix
    (every bound EXACTLY tight, so any off-by-one loses the pair):

    A = u1 u2 u3 c1..c16 and B = v1 v2 v3 c1..c16 (19 tokens, 17
    3-gram shingles each; the three u*/v* shingles are df=1 and rank
    1-3 rarest-first, the 14 shared c-run shingles are df=2 and rank
    4-17). Then:

    * J(A,B) = 14/20 = 0.7 — exactly at the inclusive threshold;
    * indexing prefix p_idx = 17 − ceil(14·17/17) + 1 = 4 — the FIRST
      common shingle sits at rank 4, the LAST slot of the indexing
      prefix (one slot shorter and the pair is unreachable);
    * positional bound at that incidence: 1 + min(17−4, 17−4) = 14 =
      alpha = ceil(7·34/17) — passes with zero slack;
    * |A| = |B| → the (size, doc_id) orientation's tie branch is the
      one exercised.

    The pair must come out of BOTH exact-pair formulations with the
    identical jaccard value."""
    from universal_data_to_orc_converter_spark.registry import load_all_queries

    a_text = "u1 u2 u3 " + " ".join(f"c{i}" for i in range(1, 17))
    b_text = "v1 v2 v3 " + " ".join(f"c{i}" for i in range(1, 17))
    sf = _write_documents(spark, tmp_path, [a_text, b_text, "filler doc here"])

    q = load_all_queries()
    plain = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["op_dedup_ngram_jaccard"].fn(spark, sf).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["op_dedup_jaccard_prefix"].fn(spark, sf).collect()
    }
    assert (0, 1) in plain and abs(plain[(0, 1)] - 0.7) < 1e-12
    assert pref == plain, (
        "prefix-filtered op lost or altered the exact-boundary pair: "
        f"{pref} vs {plain}"
    )


def _ref_shingle_hashes(text, distinct: bool) -> list[int]:
    """Pure-Python reference for _shingle_hash_kernel's per-document
    hash stream: literal-space tokens (textprep.tokens spec), blake2b
    token hashes, splitmix64-mixed 3-grams, the <3-token order-
    sensitive whole-document fold. distinct=True mirrors np.unique
    (sorted set); distinct=False keeps positional order."""
    t = (
        [x for x in text.lower().split(" ") if x != ""]
        if isinstance(text, str)
        else []
    )
    th = [_tokhash(x) for x in t]
    if len(th) >= 3:
        sh = [
            _fin(((th[i] * _K1) & _M) ^ ((th[i + 1] * _K2) & _M) ^ th[i + 2])
            for i in range(len(th) - 2)
        ]
    else:
        acc = 0xDEADBEEF
        for v in th:
            acc = ((acc ^ v) * _K1) & _M
        sh = [_fin(acc)]
    return sorted(set(sh)) if distinct else sh


def test_arrow_shingle_kernel_matches_token_spec_property():
    """Hypothesis sweep of the SHARED Arrow shingle-hash kernel
    (_shingle_hash_kernel — under MinHash, SimHash and the streaming
    incremental dedup) against _ref_shingle_hashes, over batches whose
    docs mix literal spaces with tabs/newlines/multi-space runs and
    unicode. Pins two contracts the fixed-doc tests cannot sweep:

    1. TOKEN SPEC PARITY — the kernel splits on the LITERAL space
       exactly like textprep.tokens. It used pandas' default
       str.split() (\\s+) until r11: a second tokenizer that silently
       forked the approximate tier from the exact tier it is
       recall-tested against (this test fails on that kernel: any doc
       with a tab collapses to the space-split hash stream).
    2. BATCH-COMPOSITION INVARIANCE — a doc's hashes are identical
       whether it arrives alone or surrounded by arbitrary neighbors
       (the vectorized boundary mask / searchsorted bucketing is the
       risk surface)."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _shingle_hash_kernel,
    )

    _, _, _, doc_shingle_hashes = _shingle_hash_kernel()

    piece = st.sampled_from(
        ["a", "b", "cc", "ddd", "W0", "àé", "一二", "x\ty", "p\nq"]
    )
    sep = st.sampled_from([" ", "  ", "   ", "\t", "\n", " \t "])
    doc = st.one_of(
        st.none(),
        st.builds(
            lambda parts, seps, lead, trail: lead
            + "".join(p + s for p, s in zip(parts, seps + [""]))
            + trail,
            st.lists(piece, min_size=0, max_size=8),
            st.lists(sep, min_size=0, max_size=7),
            st.sampled_from(["", " ", "\t"]),
            st.sampled_from(["", " ", "\n"]),
        ).map(
            # zip() above truncates to the shorter list; rebuild with
            # exactly len(parts)-1 separators is overkill — any
            # resulting string is a valid adversarial doc
            lambda s: s
        ),
    )

    @settings(max_examples=50, deadline=None)
    @given(docs=st.lists(doc, min_size=1, max_size=6))
    def check(docs):
        pdf = pd.DataFrame({"text": pd.Series(docs, dtype="object")})
        for distinct in (True, False):
            got = doc_shingle_hashes(pdf, distinct)
            for i, d in enumerate(docs):
                assert [int(v) for v in got[i]] == _ref_shingle_hashes(
                    d, distinct
                ), (i, repr(d), distinct)
        # batch-composition invariance (distinct=False keeps order,
        # the stricter form)
        for i, d in enumerate(docs):
            solo = doc_shingle_hashes(
                pd.DataFrame({"text": pd.Series([d], dtype="object")}),
                False,
            )[0]
            batch = doc_shingle_hashes(pdf, False)[i]
            assert np.array_equal(solo, batch), (i, repr(d))

    check()


def test_minhash_tier_tokenizes_like_exact_tier_on_raw_text(
    spark, tmp_path
):
    """Cross-TIER token-spec consistency on raw (tab/newline) text:
    the Arrow kernel's distinct shingle COUNT and pairwise
    intersection STRUCTURE must equal the exact tier's
    shingles(tokens(text)) on docs where \\s+ and literal-space
    tokenization disagree. Values aren't comparable across tiers
    (string shingles vs blake2b/splitmix hashes — injectivity is
    certified separately), so compare set sizes and the
    equality/overlap relations. Failed before the r11 kernel
    realignment: doc 0 and doc 1 hashed identically in the
    approximate tier while the exact tier kept them distinct."""
    import pandas as pd
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.dedup import (
        _shingle_hash_kernel,
    )
    from universal_data_to_orc_converter_spark.operators.textprep import (
        shingles,
        tokens,
    )

    docs = [
        "a\tb c d e",        # tab glues "a\tb" into ONE token
        "a b c d e",         # the \s+ collapse of doc 0 — must differ
        "p\nq r s",          # newline glues "p\nq"
        "p q r s",
        "x  y   z w",        # multi-space runs: SAME tokens both ways
        "x y z w",
    ]
    sf = _write_documents(spark, tmp_path, docs)
    exact = {
        r["doc_id"]: set(r["s"])
        for r in spark.read.parquet(str(tmp_path / "documents.parquet"))
        .select("doc_id", shingles(tokens(F.col("text"))).alias("s"))
        .collect()
    }
    _, _, _, doc_shingle_hashes = _shingle_hash_kernel()
    approx = {
        i: set(int(v) for v in h)
        for i, h in enumerate(
            doc_shingle_hashes(pd.DataFrame({"text": docs}), True)
        )
    }
    assert set(exact) == set(approx)
    ids = sorted(exact)
    for i in ids:
        assert len(exact[i]) == len(approx[i]), (i, docs[i])
        for j in ids:
            if i < j:
                assert len(exact[i] & exact[j]) == len(
                    approx[i] & approx[j]
                ), (i, j)


def test_minhash_survives_short_docs(spark, tmp_path):
    """<3-token docs must collapse to a whole-doc shingle, not throw."""
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    sf = _write_documents(
        spark, tmp_path, ["one", "two words", near_a, near_b, ""]
    )
    q = load_all_queries()["op_dedup_minhash_lsh"]
    rows = q.fn(spark, sf).collect()  # round 1: ANSI crash here
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    # the two long near-dups (90% token overlap) should still pair up
    assert (2, 3) in pairs
