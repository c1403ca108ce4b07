"""Scale stress harness: does the dedup/ANN family scale ~linearly from
sf0.1 through 10x and 100x corpora? Generates transient datasets under
/tmp (Zipfian 10k-word vocabulary so shingle frequencies look like real
text, ~2% planted near-dups) and times the heavy operators at each
scale. Quadratic blowups show up as >>scale time ratios; expected
results are sub-linear at 10x (job overhead dominates) and ~linear by
100x.

Modes (combinable):
    python tools/scale_stress.py            # 10x dedup/ANN + events run
    python tools/scale_stress.py --100x     # 100x dedup/ANN run
    python tools/scale_stress.py --skew     # salted-vs-plain skew bench
    python tools/scale_stress.py --stream   # streaming drain 1x/10x/100x
    python tools/scale_stress.py --warehouse # 10x orders/lineitem wave
    python tools/scale_stress.py --warehouse100 # 100x warehouse decade

Round-5 run (local[32], 16g heap; 10x docs, 16x vectors, 10x events
vs sf0.1): LSH 0.8x, simhash 2.4x, ngram-jaccard 2.9x, incremental
LSH 1.5x, SQ8 0.8x wall-clock; events family (1M events / 1.5k
Zipf-skewed users): sessionize 2.5x, session_stats 0.9x,
longest_streak 3.2x, as-of join 1.1x, weekly_retention 1.1x, funnel
1.7x, transition matrix 3.0x. The same
run at Spark's default 1g driver heap killed the JVM in the ngram
inverted-index join — see session.py's local-mode heap sizing.

A second data point at 200k docs (40x): LSH 2.3x, simhash 2.8x,
ngram-jaccard 9.6x wall-clock vs sf0.1 — the curve stays sub-linear
across both scale steps. (The round-5 10x/40x SQ8 rows above were
measured under the pre-round-6 asymmetric query set — ~4 queries at
sf0.1 vs ~64 at the big scale — so compare future default-mode runs
against the 100x row's matched-Q methodology, not those numbers.) The round-6 100x sweep (500k docs / 200k
vectors, ~64-query set matched on both sides): LSH 3.5x, simhash
10.3x, ngram-jaccard 17.4x, incremental LSH 8.8x, SQ8 4.1x, IVF
(fixed K=32) 9.2x at 100x the data — sub-quadratic across three
measured decades, no OOM at the 16g local heap. Round-6 skew bench
(--skew): salted_join x32 1.40 s vs plain 2.64 s vs AQE-skew-join
2.27 s (broadcast kept off so the reference stays a sort-merge join
AQE can split) on an 8M-row/75%-hot corpus; salted_count ties plain
(partial agg already absorbs COUNT skew). Numbers and consequences in
ARCHITECTURE.md's scale-design section. Round-12 re-run holds the
ordering: salted x32 1.08 s vs plain 2.35 s vs AQE-skew 2.54 s (and
salted_count 0.18 s vs plain 0.33 s — the x16 salt now wins outright on
this host's 32 cores; the round-6 tie was 8-core scheduling).

Round-6 late additions (default 10x mode, same corpus): SemDeDup
semantic_verdicts 4.8x wall-clock at 16x vectors with K scaled to a
~40-vector mean cluster on both sides (the operator's scale law — a
fixed K would measure the law's violation, not the operator), and the
PII regex-bank scan 0.9x at 10x docs (scan-shaped, overhead-bound).

Round-11 default 10x sweep (50k docs / 32k vecs / 1M events): the
REBUILT bounded-state KMV builds measure kmv_distinct_users 2.3x and
kmv_set_algebra 1.1x wall at 10x events — the one-task-per-type sort
they replaced is gone from the plan, and the ratios now track volume.
New ops: curation_funnel_audit 1.4x (scan-shaped), quality_pr_curve
0.7x (overhead-bound — one extra 5-key agg over the NB pass),
boilerplate_ngram_profile 2.2x (the (source,gram) agg combines hard on
the Zipf corpus).

Round-11 late --100x sweep (500k docs / 200k vectors; post
seventh-tenth wave): the new doc-family queries hold the curve across
two decades — Zipf fit 7.4x wall at 100x docs (ranged rank, no
vocabulary sort on one task), token chi-square 28.0x, BM25 ranking
eval 31.3x, PRF expansion 56.4x (postings-bounded, ~linear in
postings), rater kappa 1.3x (overhead-bound). Context rows from the
same run sit in their historical bands (LSH 3.9x, simhash 8.2x,
ngram-jaccard 34.2x, span dedup 22.7x, chunk 32.6x, kNN graph 11.9x,
WAND 17.1x, NB 6.0x; semantic_verdicts 103x = its documented linear
law, the sampled variant's 198x the usual host-noise artifact — its
fit is strictly cheaper, compare @small).

Round-11 late 10x sweep (same corpus; post seventh/eighth wave): the
ranged-rank Zipf fit 1.8x wall at 10x docs (the rank path holds — no
vocabulary ever funnels into one task), token chi-square screen 3.6x
(the presence distinct tracks token volume), rater kappa 1.1x
(scan-shaped), BM25 ranking eval 3.9x and PRF expansion 9.3x (both
postings-bounded: ratios track postings volume ~linearly on the Zipf
vocabulary), session bounce 1.7x at 10x events (rides the one
sessionizer shuffle). Full-family refresh in the same run stayed in
band (LSH 1.3x, simhash 3.7x, spans 2.5x, kNN graph 4.4x, WAND 3.4x,
MJPEG 4.8x).

Round-11 --100x refresh (500k docs / 200k vectors): LSH 2.5x, simhash
5.3x, ngram-jaccard 29.1x, incremental LSH 24.6x, SQ8 1.3x, IVF
(fixed K=32) 18.3x, span dedup 15.5x, unigram 20.8x,
curation_pipeline_v2 24.5x, chunk 30.1x, exact-substrings 14.2x,
kNN graph 8.2x, WAND 10.6x, PQ 6.4x, NB 4.5x, JPEG decode 11.4x /
lossy 17.8x, MJPEG demux 43.5x wall-clock at 100x the data — the
established families hold their sub-quadratic decades. New this round
at 100x: bpe_merge_step 10.9x (the corpus pass tracks volume; the
fixed vocab pins the merge constant), roc_auc_per_class 1.5x and
label_centroid_cosine 1.8x (bounded post-aggregate frames — near-flat
across two decades), curation_funnel_audit 5.9x, quality_pr_curve
2.1x, boilerplate_ngram_profile 19.6x.

Round-11 fourth-wave sweep (same 10x corpora): bpe_merge_step 2.0x
(the corpus tokenization pass tracks volume; the fixed 10k vocab pins
everything after constant), roc_auc_per_class 0.9x and
label_centroid_cosine 1.2x (both collapse to bounded frames after one
aggregate — overhead-bound at these sizes), decile_lift_table 0.9x
(per-user agg + ranged_ntile, no global window), chi2_independence
0.4x (contingency-sized after one cell agg), sliding_distinct_users
1.2x (7x explode of the distinct (user,day) frame),
streaming_drift_monitor 0.6x (10-row histogram per micro-batch — the
drain cost is batch bookkeeping, not volume).

Round-11 --warehouse sweep (1.5M orders / 6M lineitem / 150k customers
/ 1M events = 10x sf0.1, same schema): hilbert_layout 0.4x wall at 10x
(bounded 16-group agg — overhead-bound), zorder_layout 1.1x,
column_profile_report 2.3x (the (col,val) distinct expansion tracks
distinct-value volume), schema_drift_union 1.0x, forget_cascade_audit
0.9x (semi-join chain + 4 distinct counts), data_quality_checks 2.2x,
important_part_value 0.9x, min_cost_supplier 1.8x, pricing_summary
1.2x. link_prediction_aa 10.0 s -> 118.9 s = 11.9x at 10x — the
O(S^2 x centers) wedge law exactly (centers grew 10x; before the md5
neighbor-sampling cut the same leg measured 95 s at 1x and the sweep
was unusable). All ratios from a dedicated run, no co-tenants.

Round-11 --warehouse100 sweep (15M orders / 60M lineitem / 1.5M
customers / 10M events = 100x sf0.1): hilbert_layout 0.5x wall at 100x
(still overhead-bound — the 16-group agg never grows), zorder_layout
1.5x, column_profile_report 3.0x, schema_drift_union 1.3x,
forget_cascade_audit 3.6x, data_quality_checks 3.5x,
important_part_value 2.2x, min_cost_supplier 2.1x, pricing_summary
1.8x — the bounded-aggregate designs hold two decades within ~4x wall
at 100x the data. link_prediction_aa 13.9 s -> 819.8 s = 59x at 100x
(centers grew 100x; sub-linear vs data, the O(S^2 x centers) law with
the constant amortizing — a portion of the big leg ran beside a
co-tenant bench attempt, so 59x is an upper bound).

Round-12 spot refresh (consolidation round — changed queries only):
ann_recall_eval (NEW two-index recall: IVF + banded RHP vs one
persisted truth pass) at the sweep's fixed-Q methodology, 6.4 s @ 2k
vectors -> 22.6 s @ 32k = 3.6x wall at 16x data, and 46.3x at the
--100x decade (200k vectors, Q re-fixed at ~64) — sub-linear against
the O(Q*N) truth-pass law at both steps (the truth pass is the
data-scaled leg; probe sides are bucket-bounded);
column_profile_report with the round-12 approx tier (HLL over the
already-distinct stream, explicit two-level aggregate) 2.6x wall at 10x
orders in the --warehouse sweep — the sketch column costs nothing vs
the round-11 exact-only 2.3x because there are exactly 6 HLL buffers
regardless of scale; the rest of the warehouse wave re-measured within
round-11 bands (link_prediction_aa 5.6x, min_cost_supplier 5.7x on a
same-run basis, data_quality_checks 1.6x, pricing_summary 1.1x).
The round-12 --warehouse100 re-run: column_profile_report 3.3x wall at
100x with the approx tier (vs 3.0x exact-only in round 11 — the 6 HLL
buffers cost ~10% at the decade), and link_prediction_aa 272.3 s =
39.4x on a clean host, confirming the round-11 819.8 s / 59x reading
was co-tenant-inflated exactly as its note hedged; every other
bounded-aggregate row held its round-11 band (hilbert 0.6x, zorder
1.8x, drift union 1.4x, erasure audit 3.7x, quality checks 5.9x).

Round-7 stream sweep (--stream; 100k/1M/10M events, users scaled with
volume, state parts=8 at every decade — the size//64MiB rule floors
there for a ~250 MB source): windowed_counts 3.8/1.5/1.7 s with state
capped by the window horizon (17,280 rows at BOTH 10x and 100x — state
grows with rate x horizon, not stream length); session_rollup
1.7/2.4/15.5 s (897k peak sessions at 100x); running_totals
2.5/4.4/27.5 s (state = user count: 1.5k/10k/58k rows); dedup_stream
1.1/1.5/3.8 s but state = EVERY key seen inside the watermark horizon
(10M rows / 1.8 GiB at 100x — the synthetic stream's event-time span is
fixed, so nothing expires; a real 100 TB feed expires keys
continuously); stream_join (bucketed equality key) 3.2/3.6/94.6 s, the
one super-linear last step (26x for 10x) — buffered two-sided state
peaks at 7.5M rows / 1.8 GiB, the HDFS-backed store's maintenance cost
dominating. A follow-up measured the RocksDB provider on that decade:
stream_join 169.7 s / 201 MiB peak state vs HDFS-store 86.9 s /
1813 MiB; dedup_stream 22.0 s / 90 MiB vs 6.3 s / 1794 MiB — RocksDB
trades ~2-3x wall-clock for ~9-20x smaller resident state, so it is
the right provider exactly when state outgrows executor heap and the
wrong default below that (the engine keeps the default store and
documents the switch point).

Round-12 stream re-run (post round-11 drain fixes; same decades):
windowed_counts 3.6/1.9/1.6 s (state STILL capped at 17,280 rows at
both big decades — the horizon law holds), dedup_stream 1.1/1.6/4.1 s,
session_rollup 1.5/2.4/12.4 s, running_totals 3.4/5.8/34.0 s,
stream_join 2.9/3.4/77.6 s (peak 7.5M rows / 1.8 GiB two-sided buffer,
~10% under the round-7 reading), upsert_totals 2.0/5.5/38.2 s — every
shape tracks its round-7 curve, so the staging-dir and empty-drain
fixes cost nothing at scale.

Round-7 addendum: the foreachBatch merge sink (upsert_totals — stateful
running totals drained into a keyed parquet table) measured
2.0 / 8.5 / 32.1 s at the 1x/10x/100x decades (1.5k/10k/58k keys) —
16x wall for 100x events, sub-linear because the one availableNow batch
amortizes; the documented cliff (whole-table rewrite PER BATCH) applies
to long-running many-batch streams, where the fix is a partition-aligned
merge or a table format, not this single-drain shape.

Round-7 default-mode run (10x docs / 16x vectors / 10x events): the new
ops hold the curve — chunk_documents 3.0x (map-only token explode; a
manual third decade against the --100x corpus measured 1.4 s at 10x and
7.2 s at 100x the docs — ~5x wall for the last 10x of data, map-only
linear with scan overhead amortized),
variant_roundtrip_stats 4.4x (scan-shaped encode/extract),
state_store_probe 0.8x (state read is keyed, not volume-bound), with
the existing families in their usual bands (LSH 0.7x, simhash 1.3x,
ngram-jaccard 3.0x, SQ8 1.0x, semantic 3.3x, span dedup 2.0x,
curation_v2 3.1x; events family 1.0-5.0x).

Round-7 --100x refresh (post short-model fix; 500k docs / 200k
vectors): LSH 2.8x, simhash 4.5x, ngram-jaccard 16.7x, incremental LSH
14.4x, SQ8 4.3x, IVF 14.9x, span dedup 17.7x, unigram 27.2x,
curation_v2 21.2x, chunk 28.7x wall-clock at 100x the data — all
sub-linear; pii scan stays overhead-bound (0.2 s at either scale).

Round-8 --100x refresh (500k docs / 200k vectors): LSH 3.0x, simhash
6.9x, ngram-jaccard 20.3x, incremental LSH 9.9x, SQ8 4.1x, IVF 15.7x,
span dedup 19.4x, unigram 25.0x, curation_v2 20.1x, chunk 25.5x — and
the round-8 newcomers dedup_exact_substrings 17.4x and knn_graph 12.9x
wall-clock at 100x the data, both well under linear. semantic_verdicts
reads 101x/126x (full/sampled fit): that is AT its documented scale law
(K scales to hold cluster size, so pair volume is LINEAR in n — the
ratio measures the law holding, not a regression); pii scan stays
overhead-bound at 1.0x.

Round-8 default-mode run: the two new heavy ops hold the curve —
dedup_exact_substrings 1.53 s -> 4.01 s (2.6x wall at 10x docs; the
W-times window expansion rides map-side combine, so duplicate-heavy
synthetic text collapses before the shuffle) and knn_graph 2.89 s ->
8.12 s (2.8x at 16x vectors; the per-bucket fan-in cap holds candidate
volume at cap^2 x occupied-buckets, so growth flattens as buckets
fill). Events/streaming families in their usual bands (sessionize
1.8x, as-of 1.5x, retention/funnel ~1x, windowed drain 0.6x).
SemDeDup with corpus-scaled K (5000 clusters): 212 s full-corpus fit vs
128 s with the sampled-fit knob (10 samples/centroid) at identical
output — the sampled path is the 100x-scale default; its huge printed
"ratio" (160x) is an artifact of the knob making the SMALL side nearly
free (0.8 s), not super-linearity.

Not part of the pytest suite — a full sweep takes minutes and writes
up to ~400 MB under /tmp/sfstress*."""
import os
import random
import string as _string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SMALL = "/root/testdata/sf0.1"
OUT10 = "/tmp/sfstress"
OUT100 = "/tmp/sfstress100"
SKEWDIR = "/tmp/sfstress_skew"

# realistic shingle sparsity needs a real-sized vocabulary: 10k words
# with a Zipfian skew (a 50-word vocab makes every trigram a hot shingle,
# which no real corpus looks like)
_rw = random.Random(13)
VOCAB = ["".join(_rw.choice(_string.ascii_lowercase)
                 for _ in range(_rw.randint(3, 9)))
         for _ in range(10_000)]
# Real common stopwords take the hottest Zipf slots (as in natural text):
# without them every generated doc fails the Gopher stopword rule and the
# quality-filtered pipelines degenerate to 0-row workloads at stress scale.
VOCAB[:5] = ["the", "a", "of", "and", "to"]
_zipf_w = [1.0 / (i + 1) for i in range(len(VOCAB))]


def gen_corpus(path: str, n_docs: int, n_vec: int, n_ev: int,
               n_users: int = 1_500) -> None:
    """Write documents/embeddings[/events] parquet at the given sizes
    (idempotent per file). Same generator at every scale so ratios
    compare like with like."""
    os.makedirs(path, exist_ok=True)
    r = random.Random(11)
    rng = np.random.default_rng(11)
    if n_docs and not os.path.exists(f"{path}/documents.parquet"):
        texts = []
        for _ in range(n_docs):
            texts.append(" ".join(r.choices(VOCAB, weights=_zipf_w,
                                            k=r.randint(20, 80))))
        # plant ~2% near-dups so candidate generation has real work
        for i in range(0, n_docs, 50):
            texts[(i + 1) % n_docs] = texts[i] + " extra"
        t = pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([r.choice(["en", "de", "fr", "es"])
                              for _ in range(n_docs)]),
            "source": pa.array(["gen"] * n_docs),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        })
        pq.write_table(t, f"{path}/documents.parquet")
    if n_vec and not os.path.exists(f"{path}/embeddings.parquet"):
        V = rng.normal(size=(n_vec, 64)).astype(np.float32)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        t = pa.table({
            "vec_id": pa.array(range(n_vec), pa.int64()),
            "embedding": pa.array(V.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i % 7 for i in range(n_vec)], pa.int64()),
        })
        pq.write_table(t, f"{path}/embeddings.parquet")
    if n_ev and not os.path.exists(f"{path}/events.parquet"):
        # n_ev events / n_users over 6 months — same skew shape
        # (a few hot users) the gate data has
        user = rng.zipf(1.5, size=n_ev) % n_users
        base = np.int64(1_704_067_200_000_000)  # 2024-01-01 in micros
        ts = base + rng.integers(0, np.int64(180 * 86_400_000_000), size=n_ev)
        types = np.array(["click", "view", "purchase", "signup"])
        t = pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(types[rng.integers(0, 4, size=n_ev)]),
            "value": pa.array(rng.random(n_ev) * 100, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n_ev),
        })
        pq.write_table(t, f"{path}/events.parquet")


def _rows(path, table):
    return pq.ParquetFile(f"{path}/{table}.parquet").metadata.num_rows


def _get_spark():
    from cliqz_etl_spark.session import get_spark

    spark = get_spark("stress", master="local[32]",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def run(label, fn):
    from cliqz_etl_spark.operators.cache import release_all

    t0 = time.perf_counter()
    n = fn().count()
    dt = time.perf_counter() - t0
    release_all()
    print(f"{label:38s} {dt:7.2f}s  rows={n}")
    return dt


def family_sweep(spark, big_dir: str, scale_label: str,
                 with_events: bool) -> None:
    """Time the dedup/ANN family at sf0.1 and at ``big_dir``; print
    per-operator wall-clock ratios."""
    from pyspark.sql import functions as F

    from cliqz_etl_spark.operators.dedup import (
        incremental_lsh_matches,
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
        span_dedup as _span_dedup,
    )
    from cliqz_etl_spark.functions.privacy import PII_CLASSES, pii_count
    from cliqz_etl_spark.operators.similarity import (
        ivf_topk,
        pq_topk,
        semantic_verdicts,
        sq8_topk,
    )

    def _retrieval_on_vocab(spark, p, qname):
        """Run a retrieval-family query with mid-frequency vocabulary
        terms (Zipf ranks 50/200/1000) so the postings side has real
        work on the synthetic corpus; the module constant is rebound
        around the call (single-threaded sweep) and restored."""
        from cliqz_etl_spark.queries import retrieval as _ret

        saved = _ret._QUERY_TERMS
        _ret._QUERY_TERMS = [VOCAB[50], VOCAB[200], VOCAB[1000]]
        try:
            return _registry()[qname].fn(spark, p)
        finally:
            _ret._QUERY_TERMS = saved

    def _wand_on_vocab(spark, p):
        return _retrieval_on_vocab(spark, p, "wand_bm25_topk")

    _reg: dict = {}

    def _registry():
        if not _reg:
            from cliqz_etl_spark.queries import load_all

            _reg.update(load_all())
        return _reg

    def _contrastive_fixed_q(spark, p, mod):
        from cliqz_etl_spark.queries import similarity as _sim

        saved = _sim.QUERY_MOD
        _sim.QUERY_MOD = mod
        try:
            return _registry()["contrastive_triplets"].fn(spark, p)
        finally:
            _sim.QUERY_MOD = saved

    def _recall_fixed_q(spark, p, mod):
        """ann_recall_eval with the sweep's fixed-Q methodology: the
        truth pass is O(Q*N) by definition, so rebinding QUERY_MOD to
        keep Q ~ 64 at every scale makes the ratio isolate corpus-side
        growth (the production shape — a sampled query set per index
        build), not the query-set draw."""
        from cliqz_etl_spark.queries import similarity as _sim

        saved = _sim.QUERY_MOD
        _sim.QUERY_MOD = mod
        try:
            return _registry()["ann_recall_eval"].fn(spark, p)
        finally:
            _sim.QUERY_MOD = saved

    def docs_at(path):
        return spark.read.parquet(f"{path}/documents.parquet")

    def emb_at(path):
        return spark.read.parquet(f"{path}/embeddings.parquet")

    _sd, _bd = _rows(SMALL, "documents"), _rows(big_dir, "documents")
    _sv, _bv = _rows(SMALL, "embeddings"), _rows(big_dir, "embeddings")
    print(f"small: {_sd} docs / {_sv} vecs   "
          f"big({scale_label}): {_bd} docs ({_bd/_sd:.0f}x) / "
          f"{_bv} vecs ({_bv/_sv:.0f}x)")
    # keep the query-set size FIXED across scales: the modulus scales on
    # BOTH sides so Q stays ~64 and the ratio isolates corpus-side
    # growth. (Earlier revisions used %500 on the small side too — 4
    # queries at sf0.1's 2000 vectors vs ~64 at the big scale, a ~16x
    # query-count multiplier baked into the printed sq8/ivf ratios.)
    qmod_small = max(1, _sv // 64)
    qmod = max(1, _bv // 64)
    for name, make in [
        ("lsh_candidate_pairs", lambda p: lambda: lsh_candidate_pairs(
            docs_at(p), "doc_id", "text")),
        ("simhash_near_pairs", lambda p: lambda: simhash_near_pairs(
            docs_at(p), "doc_id", "text")),
        ("ngram_jaccard_pairs", lambda p: lambda: ngram_jaccard_pairs(
            docs_at(p), "doc_id", "text")),
        ("incremental_lsh_matches", lambda p: lambda: incremental_lsh_matches(
            docs_at(p).where(F.col("doc_id") % 5 == 0),
            docs_at(p).where(F.col("doc_id") % 5 != 0), "doc_id", "text")),
        ("sq8_topk", lambda p: lambda: sq8_topk(
            emb_at(p),
            emb_at(p).where(
                F.col("vec_id") % (qmod_small if p == SMALL else qmod) == 0),
            "vec_id", "embedding", 64, 5, 20)),
        # IVF with a FIXED K~32 centroid model at every scale (the
        # registry query grows K with the corpus, which would hide the
        # corpus-side scaling this sweep isolates)
        ("ivf_topk", lambda p: lambda: ivf_topk(
            emb_at(p),
            emb_at(p).where(
                F.col("vec_id") % max(1, _rows(p, "embeddings") // 32) == 0),
            emb_at(p).where(
                F.col("vec_id") % (qmod_small if p == SMALL else qmod) == 0),
            "vec_id", "embedding", 3, 1)),
        # SemDeDup verdicts with K scaled to hold the mean cluster size
        # at ~40 vectors on BOTH sides — the operator's documented scale
        # law (pairs ~ n x cluster_size, linear in n at fixed size);
        # a fixed K would quadratically inflate the big-side pair count
        # and measure the law's violation, not the operator.
        ("semantic_verdicts", lambda p: lambda: semantic_verdicts(
            emb_at(p), "vec_id", "embedding", 64,
            max(2, _rows(p, "embeddings") // 40), 2, 4000)),
        # sampled-fit variant: Lloyd's rounds on 10 samples/centroid
        # (S = 10k = n/4 at the cluster-size law) instead of the full
        # corpus — the fit-cost knob for 100x-scale semantic dedup;
        # assignment + the pair join still cover every vector.
        ("semantic_verdicts_sampled", lambda p: lambda: semantic_verdicts(
            emb_at(p), "vec_id", "embedding", 64,
            max(2, _rows(p, "embeddings") // 40), 2, 4000,
            train_limit=max(4, 10 * max(2, _rows(p, "embeddings") // 40)))),
        # PII regex-bank scan (per-class counts over the full text) —
        # scan-shaped, should track corpus bytes ~linearly.
        ("pii_regex_scan", lambda p: lambda: docs_at(p).select(
            *[pii_count("text", pat).alias(n) for n, pat in PII_CLASSES])
            .agg(*[F.sum(n).alias(n) for n, _ in PII_CLASSES])),
        # C4 span dedup: chunk -> MIN per distinct chunk -> rebuild.
        # Shuffle is O(total chunks) with map-side combine; should track
        # corpus size ~linearly (duplicate-heavy synthetic corpora combine
        # harder, so sub-linear is expected here).
        ("span_dedup", lambda p: lambda: _span_dedup(
            docs_at(p), "doc_id", "text", 10)),
        # corpus-trained unigram score: explode -> vocab agg (persisted)
        # -> token join -> per-doc agg. Token volume drives both shuffles;
        # the Zipf vocabulary keeps the count table small at any scale.
        ("unigram_freq_score", lambda p: lambda: _registry()
            ["unigram_freq_score"].fn(spark, p)),
        # the composed flagship: gopher filter -> span dedup -> unigram
        # scoring on the curated text (three stage families in one job)
        ("curation_pipeline_v2", lambda p: lambda: _registry()
            ["curation_pipeline_v2"].fn(spark, p)),
        # round-7: sliding-window chunker — map-only 1->N explode, should
        # track token volume ~linearly with zero shuffle
        ("chunk_documents", lambda p: lambda: _registry()
            ["chunk_documents"].fn(spark, p)),
        # round-8: stride-1 exact-substring window dedup — W-times token
        # expansion into groupBy(h) + join-back; shuffle volume is
        # O(W x tokens) with map-side combine on repeated windows, so
        # duplicate-heavy synthetic corpora should come in sub-linear
        ("dedup_exact_substrings", lambda p: lambda: _registry()
            ["dedup_exact_substrings"].fn(spark, p)),
        # round-8: bucket-capped LSH kNN graph — candidate work bounded
        # by cap^2 x buckets, so growth should flatten once buckets fill
        ("knn_graph", lambda p: lambda: _registry()
            ["knn_graph"].fn(spark, p)),
        # round-8 second wave: all-terms postings compression planner —
        # the (term, shard) lag windows over a 10k-word Zipf vocabulary;
        # shuffle volume is O(distinct (term, doc)), should track corpus
        # ~linearly with the hottest term bounded by its 16 shards
        ("postings_compress_stats", lambda p: lambda: _registry()
            ["postings_compress_stats"].fn(spark, p)),
        # round-8 second wave: two-pass Misra-Gries heavy hitters — the
        # Arrow screen is a narrow pass (k counters/task), the exact
        # pass shuffles candidates only; should track token volume
        ("heavy_hitters_exact", lambda p: lambda: _registry()
            ["heavy_hitters_exact"].fn(spark, p)),
        # round-8 second wave: WAND pruned BM25 against mid-frequency
        # vocabulary terms (the fixed gate terms don't occur in the
        # synthetic vocab; retrieval._QUERY_TERMS is rebound for the
        # call so postings are non-empty at every scale)
        ("wand_bm25_topk", lambda p: lambda: _wand_on_vocab(spark, p)),
        # round-8 second wave: product quantization with the sweep's
        # fixed-Q (~64 queries) and fixed-K (~32 codewords) methodology,
        # matching the sq8/ivf rows it shares the scan shape with
        ("pq_topk", lambda p: lambda: pq_topk(
            emb_at(p),
            emb_at(p).where(
                F.col("vec_id") % (qmod_small if p == SMALL else qmod) == 0),
            emb_at(p).where(
                F.col("vec_id") % max(1, _rows(p, "embeddings") // 32) == 0),
            "vec_id", "embedding", 64, 8, 5, 20)),
        # round-9: NB quality classifier — train-slice token agg + vocab
        # join + per-doc agg; token volume drives both shuffles, the Zipf
        # vocabulary bounds the model, so ~linear like unigram_freq_score
        ("nb_quality_classifier", lambda p: lambda: _registry()
            ["nb_quality_classifier"].fn(spark, p)),
        # round-9: real JPEG encode->decode per doc inside mapInPandas —
        # per-row Python codec work, partition-parallel, must track row
        # count ~linearly (the gif_decode_stats profile)
        ("jpeg_decode_stats", lambda p: lambda: _registry()
            ["jpeg_decode_stats"].fn(spark, p)),
        # round-9: triplet mining at the sweep's fixed-Q methodology
        # (the registry query's anchor set grows with the corpus; rebind
        # the modulus so the ratio isolates corpus-side growth, matching
        # the sq8/ivf rows it shares the broadcast-scan shape with)
        ("contrastive_triplets", lambda p: lambda: _contrastive_fixed_q(
            spark, p, qmod_small if p == SMALL else qmod)),
        # round-12: the two-index recall eval (IVF + banded RHP vs one
        # persisted truth pass) at the same fixed-Q methodology — the
        # O(Q*N) truth side must track N linearly at Q ~ 64, and the
        # probe sides ride the ivf/rhp rows' own scale laws
        ("ann_recall_eval", lambda p: lambda: _recall_fixed_q(
            spark, p, qmod_small if p == SMALL else qmod)),
        # round-10: the JPEG AC path (heavier per-row codec work than
        # jpeg_decode_stats' DC-only blocks — entropy coding both sides)
        # and the AVI/MJPEG demux (avg 4 frame decodes + container walk
        # per row, 1->N output). Both spread via _codec_ids, so the
        # ratio must track row count ~linearly across all cores.
        ("jpeg_lossy_stats", lambda p: lambda: _registry()
            ["jpeg_lossy_stats"].fn(spark, p)),
        ("mjpeg_frame_stats", lambda p: lambda: _registry()
            ["mjpeg_frame_stats"].fn(spark, p)),
        # round-11: first-fail funnel attribution — scan-side CASE into a
        # 6-row agg, the cheapest full-corpus shape; must track bytes
        ("curation_funnel_audit", lambda p: lambda: _registry()
            ["curation_funnel_audit"].fn(spark, p)),
        # round-11: per-source df-threshold boilerplate — one
        # (source, gram) agg with map-side combine + join-back; the
        # Zipfian corpus maximizes combine, so sub-linear is expected
        ("boilerplate_ngram_profile", lambda p: lambda: _registry()
            ["boilerplate_ngram_profile"].fn(spark, p)),
        # round-11: NB threshold sweep — one scoring pass + a 5-key agg;
        # must track nb_quality_classifier, which it rides
        ("quality_pr_curve", lambda p: lambda: _registry()
            ["quality_pr_curve"].fn(spark, p)),
        # round-11 fourth wave: one BPE merge round — the corpus pass
        # should track volume, everything after is vocab-sized (the
        # fixed 10k Zipf vocabulary pins the post-agg work CONSTANT
        # across scales, so the ratio isolates the tokenization pass)
        ("bpe_merge_step", lambda p: lambda: _registry()
            ["bpe_merge_step"].fn(spark, p)),
        # round-11: rank-free AUC (score-level frame is bounded by the
        # quantization domain — the ratio must track the one corpus agg)
        # and the centroid cosine matrix (64-way explode + integer sums;
        # post-agg frames are labels x dims at every scale)
        ("roc_auc_per_class", lambda p: lambda: _registry()
            ["roc_auc_per_class"].fn(spark, p)),
        ("label_centroid_cosine", lambda p: lambda: _registry()
            ["label_centroid_cosine"].fn(spark, p)),
        # round-11 seventh wave: the Zipf fit — vocab agg + ranged rank;
        # the fixed 10k Zipf vocabulary pins the post-agg frames constant
        # across scales, so the ratio isolates the tokenize+agg pass
        # (and proves the rank path never funnels a language's vocabulary
        # into one task)
        ("zipf_fit", lambda p: lambda: _registry()
            ["zipf_fit"].fn(spark, p)),
        # round-11 eighth wave: chi-square keyword screen — presence
        # distinct + doc-keyed label join; vocab-bounded after
        ("token_chi2_keywords", lambda p: lambda: _registry()
            ["token_chi2_keywords"].fn(spark, p)),
        # round-11 seventh wave: rater kappa — pure scan + 1-row agg,
        # must track bytes like curation_funnel_audit
        ("rater_agreement_kappa", lambda p: lambda: _registry()
            ["rater_agreement_kappa"].fn(spark, p)),
        # round-11 retrieval evals against mid-frequency vocabulary terms
        # (the fixed gate terms don't occur in the synthetic vocab; the
        # _QUERY_TERMS rebind is the _wand_on_vocab move) — postings-
        # bounded scoring + TakeOrdered cuts must track postings volume
        ("ranking_eval_bm25", lambda p: lambda: _retrieval_on_vocab(
            spark, p, "ranking_eval_bm25")),
        ("prf_expansion_terms", lambda p: lambda: _retrieval_on_vocab(
            spark, p, "prf_expansion_terms")),
    ]:
        t_small = run(f"{name} @small", make(SMALL))
        t_big = run(f"{name} @{scale_label}", make(big_dir))
        print(f"{name:38s} ratio {t_big / t_small:5.1f}x")

    if not with_events:
        return
    # ---- events family (sessionization / as-of / retention shapes) ------
    # registry queries take an sf_dir; the stress dir has its own events
    from cliqz_etl_spark.queries import load_all

    registry = load_all()
    for qname in ["sessionize", "session_stats", "longest_streak",
                  "asof_last_click_before_purchase", "weekly_retention",
                  "funnel_counts", "event_transition_matrix",
                  # streaming drains: availableNow to completion over the
                  # 10x event stream — exercises the volume-derived state
                  # sizing, watermarked window state, and the
                  # dropDuplicatesWithinWatermark state shape at scale
                  "streaming_hourly_counts", "streaming_dedup",
                  # round-7: the VARIANT encode/extract roundtrip (pure
                  # scan-shaped, codegen) and the statestore audit read
                  "variant_roundtrip_stats", "state_store_probe",
                  # round-9: portable-register HLL (two bounded-key aggs
                  # — must track event volume linearly) and the strict
                  # state-machine funnel (one exchange + per-user fold)
                  "hll_distinct_users", "sequence_funnel",
                  # round-11: the rebuilt bounded-state KMV builds — the
                  # whole point is that ratios stay ~linear with NO
                  # single-task sort per event type at any scale
                  "kmv_distinct_users", "kmv_set_algebra",
                  # round-11 fourth wave: decile lift (per-user agg +
                  # ranged_ntile two-pass — no global window sort to
                  # funnel the 10x corpus into one task), the chi-square
                  # contingency audit (one cell agg, contingency-sized
                  # after), 7-day rolling reach (7x explode of the
                  # distinct (user,day) frame), and the foreachBatch
                  # drift monitor (10-row histogram per micro-batch —
                  # stream volume should move the scan, never the state)
                  "decile_lift_table", "chi2_independence",
                  "sliding_distinct_users", "streaming_drift_monitor",
                  # round-11 seventh wave: bounce rate by entry type —
                  # rides the sessionizer's one user_id shuffle; the
                  # rollup is entry-type-sized at any scale
                  "session_bounce_stats"]:
        fn = registry[qname].fn
        t_small = run(f"{qname} @small", lambda: fn(spark, SMALL))
        t_big = run(f"{qname} @{scale_label}", lambda: fn(spark, big_dir))
        print(f"{qname:38s} ratio {t_big / t_small:5.1f}x")


def gen_skew_corpus() -> None:
    """8M-row fact table where ONE key owns 75% of rows (the pathological
    hot-key regime salting targets: the hot partition is ~24x the mean,
    so the unsalted sort-merge task IS the job's critical path), plus a
    10k-key dim. A milder 50%/4M corpus measured plain ≈ salted — the
    hot task finished before the salted plan's dim-explosion overhead
    paid off; skew has to actually bind before salting is worth it."""
    os.makedirs(SKEWDIR, exist_ok=True)
    if os.path.exists(f"{SKEWDIR}/facts.parquet"):
        return
    rng = np.random.default_rng(7)
    n = 8_000_000
    keys = rng.integers(1, 10_000, size=n)
    keys[rng.random(n) < 0.75] = 0  # key 0 = the hot key, ~75% of rows
    t = pa.table({
        "k": pa.array(keys, pa.int64()),
        "v": pa.array(rng.random(n) * 100, pa.float64()),
    })
    pq.write_table(t, f"{SKEWDIR}/facts.parquet")
    d = pa.table({
        "k": pa.array(range(10_000), pa.int64()),
        "label": pa.array([f"L{i % 97}" for i in range(10_000)]),
    })
    pq.write_table(d, f"{SKEWDIR}/dim.parquet")


def skew_bench(spark) -> None:
    """Salted vs plain on the 75%-hot-key corpus, with the rescue paths a
    real cluster can't always count on (AQE skew-join, broadcast)
    DISABLED — the regime the manual salted operators exist for. Both
    shapes are asserted to produce identical answers before timing."""
    from pyspark.sql import functions as F

    from cliqz_etl_spark.operators.relational import salted_count, salted_join

    gen_skew_corpus()
    facts = spark.read.parquet(f"{SKEWDIR}/facts.parquet")
    dim = spark.read.parquet(f"{SKEWDIR}/dim.parquet")
    n_facts, hot = facts.count(), facts.where("k = 0").count()
    print(f"skew corpus: {n_facts} facts, hot key = {hot} rows "
          f"({100*hot/n_facts:.0f}%), dim = {dim.count()} keys")

    def plain_join():
        return (facts.join(dim, "k")
                .groupBy("label").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("v").alias("sv")))

    def salted():
        return (salted_join(facts, dim, "k", salt_buckets=32)
                .groupBy("label").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("v").alias("sv")))

    # correctness first: identical grouped counts (sums are float-order
    # sensitive, so compare the exact count surface)
    a = {r["label"]: r["n"] for r in plain_join().collect()}
    b = {r["label"]: r["n"] for r in salted().collect()}
    assert a == b, "salted join diverged from plain join"
    pc = {r["k"]: r["n"] for r in
          facts.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    sc_ = {r["k"]: r["n"] for r in salted_count(facts, "k").collect()}
    assert pc == sc_, "salted count diverged from plain count"

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        for label, fn in [("join plain (no AQE-skew rescue)", plain_join),
                          ("join salted x32", salted)]:
            ts = [run(label, fn) for _ in range(2)]
            print(f"{label:38s} best {min(ts):6.2f}s")
        for label, fn in [
            ("count plain", lambda: facts.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"))),
            ("count salted x16", lambda: salted_count(facts, "k")),
        ]:
            ts = [run(label, fn) for _ in range(2)]
            print(f"{label:38s} best {min(ts):6.2f}s")
        # AQE-on reference point: re-enable ONLY the skew rescue.
        # Broadcast stays disabled — restoring it would let the 10k-row
        # dim broadcast and the "reference" would time a broadcast-hash
        # join that AQE's skew split (sort-merge only) never touches.
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        ts = [run("join plain (AQE skew-join on)", plain_join)
              for _ in range(2)]
        print(f"{'join plain (AQE skew-join on)':38s} best {min(ts):6.2f}s")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


STREAM10 = "/tmp/sfstress_stream10"
STREAM100 = "/tmp/sfstress_stream100"


def stream_sweep(spark) -> None:
    """Streaming scale stress: drain the Structured Streaming family with
    availableNow over 1x/10x/100x event volume (100k / 1M / 10M rows) and
    record, per decade, the drain wall-clock, the state store's peak
    row count and memory, and the state partitions the drain chose, all
    from the query's own progress telemetry. The things this verifies at
    scale: (a) ``jobs.drain``'s volume-derived state-partition sizing
    keeps per-batch fixed costs from dominating as the source grows, (b)
    watermarks actually bound state — peak state memory must grow with
    rate x horizon, NOT with total stream length, so the 100x decade must
    stay far under 100x the 1x state, (c) drain time stays ~linear."""
    import shutil
    import uuid

    from cliqz_etl_spark.queries.streamq import _event_stream
    from cliqz_etl_spark.streaming.jobs import (click_purchase_join,
                                                dedup_stream, drain,
                                                run_to_upsert,
                                                running_user_totals,
                                                session_rollup,
                                                windowed_event_counts)

    ckpt_base = f"/tmp/sfstress_stream_ckpt_{uuid.uuid4().hex[:8]}"

    def timed_drain(df, mode: str, label: str) -> None:
        t0 = time.perf_counter()
        q = drain(df, lambda w: w.format("noop")
                  .option("checkpointLocation",
                          f"{ckpt_base}/{label.replace(' ', '_')}")
                  .outputMode(mode))
        dt = time.perf_counter() - t0
        rows_max = mem_max = 0
        parts = set()
        for p in q.recentProgress:
            for so in (p.get("stateOperators") or []):
                rows_max = max(rows_max, so.get("numRowsTotal") or 0)
                mem_max = max(mem_max, so.get("memoryUsedBytes") or 0)
                parts.add(so.get("numShufflePartitions"))
        print(f"{label:42s} {dt:7.2f}s  state_rows<={rows_max:>9}  "
              f"state_mem<={mem_max / (1 << 20):7.1f}MiB  "
              f"parts={sorted(parts)}")

    decades = [("1x", SMALL), ("10x", STREAM10), ("100x", STREAM100)]
    for lbl, path in decades:
        n_ev = _rows(path, "events")
        print(f"--- stream decade {lbl}: {n_ev} events ---")
        timed_drain(windowed_event_counts(_event_stream(spark, path)),
                    "update", f"windowed_counts {lbl}")
        timed_drain(dedup_stream(_event_stream(spark, path)), "append",
                    f"dedup_stream {lbl}")
        # session_window aggs support append/complete only (not update)
        timed_drain(session_rollup(_event_stream(spark, path)), "complete",
                    f"session_rollup {lbl}")
        timed_drain(running_user_totals(_event_stream(spark, path)),
                    "update", f"running_totals {lbl}")
        timed_drain(click_purchase_join(
            _event_stream(spark, path).where("event_type = 'click'"),
            _event_stream(spark, path).where("event_type = 'purchase'")),
            "append", f"stream_join {lbl}")
        # foreachBatch merge sink: per-batch SCD-1 upsert into a parquet
        # table. availableNow over one source file is a single batch here,
        # so this measures one full merge of |users| keys; the known scale
        # cliff (whole-table rewrite PER BATCH on a long-running stream)
        # is documented at the operator — this point tracks the merge
        # cost's growth with key cardinality.
        up_base = f"{ckpt_base}/upsert_{lbl}"
        t0 = time.perf_counter()
        run_to_upsert(running_user_totals(_event_stream(spark, path)),
                      f"{up_base}/table", f"{up_base}/ckpt", "user_id")
        n_keys = spark.read.parquet(f"{up_base}/table").count()
        print(f"{'upsert_totals ' + lbl:42s} {time.perf_counter() - t0:7.2f}s  "
              f"keys={n_keys}")
    shutil.rmtree(ckpt_base, ignore_errors=True)


WAREHOUSE10 = "/tmp/sfstress_wh10"
WAREHOUSE100 = "/tmp/sfstress_wh100"


def gen_warehouse(path: str, n_orders: int, n_cust: int, n_parts: int,
                  n_supp: int, n_ev: int) -> None:
    """Synthesize a 10x-sf0.1-shaped orders/lineitem/customer/part/
    supplier corpus (plus events whose user ids share the custkey
    domain, so the erasure cascade's identity join has real matches) —
    the warehouse twin of gen_corpus. nation/region copy verbatim from
    sf0.1 (constant-size dimensions). Idempotent per file."""
    import shutil as _sh

    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(7)
    base_us = np.int64(788_918_400_000_000)           # 1995-01-01 micros
    span_us = np.int64(6 * 365 * 86_400_000_000)       # ~6y like sf0.1
    if not os.path.exists(f"{path}/orders.parquet"):
        ts = base_us + rng.integers(0, span_us, size=n_orders)
        t = pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders),
                                  pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_orders)]),
            "o_totalprice": pa.array(rng.random(n_orders) * 5000 + 10,
                                     pa.float64()),
            "o_orderdate": pa.array(ts, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"])[
                    rng.integers(0, 4, size=n_orders)]),
        })
        pq.write_table(t, f"{path}/orders.parquet")
    if not os.path.exists(f"{path}/lineitem.parquet"):
        n_li = n_orders * 4
        ok = np.repeat(np.arange(n_orders, dtype=np.int64), 4)
        ship = base_us + rng.integers(0, span_us, size=n_li)
        t = pa.table({
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, size=n_li),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li),
                                  pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, 5), n_orders),
                                     pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": pa.array(rng.random(n_li) * 2000 + 1,
                                        pa.float64()),
            "l_discount": pa.array(
                rng.integers(0, 11, size=n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(
                rng.integers(0, 9, size=n_li) / 100.0, pa.float64()),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)]),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, size=n_li)]),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        })
        pq.write_table(t, f"{path}/lineitem.parquet")
    if not os.path.exists(f"{path}/customer.parquet"):
        t = pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(
                rng.integers(0, 25, size=n_cust).astype(np.int32),
                pa.int32()),
            "c_acctbal": pa.array(rng.random(n_cust) * 10_000 - 1000,
                                  pa.float64()),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                          "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, size=n_cust)]),
        })
        pq.write_table(t, f"{path}/customer.parquet")
    if not os.path.exists(f"{path}/part.parquet"):
        t = pa.table({
            "p_partkey": pa.array(range(n_parts), pa.int64()),
            "p_name": pa.array([f"part {i % 977} v{i % 31}"
                                for i in range(n_parts)]),
            "p_brand": pa.array([f"Brand#{i % 25}" for i in range(n_parts)]),
            "p_type": pa.array(
                np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                          "PROMO"])[rng.integers(0, 5, size=n_parts)]),
            "p_size": pa.array(
                rng.integers(1, 51, size=n_parts).astype(np.int32),
                pa.int32()),
            "p_retailprice": pa.array(
                900 + rng.integers(0, 1000, size=n_parts) / 10.0,
                pa.float64()),
        })
        pq.write_table(t, f"{path}/part.parquet")
    if not os.path.exists(f"{path}/supplier.parquet"):
        t = pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(
                rng.integers(0, 25, size=n_supp).astype(np.int32),
                pa.int32()),
            "s_acctbal": pa.array(rng.random(n_supp) * 10_000,
                                  pa.float64()),
        })
        pq.write_table(t, f"{path}/supplier.parquet")
    for dim in ("nation", "region"):
        if not os.path.exists(f"{path}/{dim}.parquet"):
            _sh.copyfile(f"{SMALL}/{dim}.parquet", f"{path}/{dim}.parquet")
    if n_ev and not os.path.exists(f"{path}/events.parquet"):
        user = rng.zipf(1.5, size=n_ev) % n_cust
        ts = base_us + rng.integers(0, span_us, size=n_ev)
        types = np.array(["click", "view", "purchase", "signup"])
        t = pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(types[rng.integers(0, 4, size=n_ev)]),
            "value": pa.array(rng.random(n_ev) * 100, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n_ev),
        })
        pq.write_table(t, f"{path}/events.parquet")


def warehouse_sweep(spark, big_dir: str, scale_label: str) -> None:
    """Time the layout/profile/audit/link-prediction wave (plus two
    pinned warehouse heavies as controls) at sf0.1 and at ``big_dir``;
    print per-query wall-clock ratios. Every query runs through the
    registry exactly as the driver does."""
    from cliqz_etl_spark.queries import load_all

    reg = load_all()
    so, bo = _rows(SMALL, "orders"), _rows(big_dir, "orders")
    sl, bl = _rows(SMALL, "lineitem"), _rows(big_dir, "lineitem")
    print(f"small: {so} orders / {sl} lineitem   "
          f"big({scale_label}): {bo} orders ({bo/so:.0f}x) / "
          f"{bl} lineitem ({bl/sl:.0f}x)")
    names = ["hilbert_layout", "zorder_layout", "column_profile_report",
             "schema_drift_union", "forget_cascade_audit",
             "link_prediction_aa", "data_quality_checks",
             "important_part_value", "min_cost_supplier",
             "pricing_summary"]
    for name in names:
        ds = run(f"{name} @1x", lambda n=name: reg[n].fn(spark, SMALL))
        db = run(f"{name} @{scale_label}",
                 lambda n=name: reg[n].fn(spark, big_dir))
        print(f"{name:38s} ratio {db / max(ds, 1e-9):5.1f}x")


if __name__ == "__main__":
    args = set(sys.argv[1:])
    spark = _get_spark()
    if "--skew" in args:
        skew_bench(spark)
    if "--100x" in args:
        gen_corpus(OUT100, n_docs=500_000, n_vec=200_000, n_ev=0)
        family_sweep(spark, OUT100, "100x", with_events=False)
    if "--stream" in args:
        # users scale WITH volume so per-user event density stays constant
        # across decades: with fixed users, 10x volume means 10x per-user
        # density, and every per-user stateful op (sessions, stream-stream
        # join pairs) measures the workload's quadratics instead of the
        # engine's scaling. Dedicated dirs — OUT10's events keep the
        # fixed-user shape for the batch-family sweep.
        gen_corpus(STREAM10, n_docs=0, n_vec=0, n_ev=1_000_000,
                   n_users=15_000)
        gen_corpus(STREAM100, n_docs=0, n_vec=0, n_ev=10_000_000,
                   n_users=150_000)
        stream_sweep(spark)
    if "--warehouse" in args:
        gen_warehouse(WAREHOUSE10, n_orders=1_500_000, n_cust=150_000,
                      n_parts=200_000, n_supp=10_000, n_ev=1_000_000)
        warehouse_sweep(spark, WAREHOUSE10, "10x")
    if "--warehouse100" in args:
        gen_warehouse(WAREHOUSE100, n_orders=15_000_000, n_cust=1_500_000,
                      n_parts=2_000_000, n_supp=100_000, n_ev=10_000_000)
        warehouse_sweep(spark, WAREHOUSE100, "100x")
    if not args:
        gen_corpus(OUT10, n_docs=50_000, n_vec=32_000, n_ev=1_000_000)
        family_sweep(spark, OUT10, "10x", with_events=True)
