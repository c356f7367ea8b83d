"""Text dedup + analysis for training-data pipelines."""

from ._java import ctx, lift


def dedup_exact(df, text_col="text", id_col="doc_id", keep_first=True):
    """Exact dedup by text hash; one canonical row per distinct text."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.Dedup.exact(
        df._jdf, text_col, id_col, bool(keep_first)))


def minhash_near_duplicates(df, text_col="text", id_col="doc_id", k=3,
                            num_hashes=64, bands=16, threshold=0.7):
    """MinHash+LSH near-dup pairs, verified by exact shingle Jaccard."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.Dedup.minhashNearDuplicates(
        df._jdf, text_col, id_col, int(k), int(num_hashes), int(bands),
        float(threshold)))


def simhash_near_duplicates(df, text_col="text", id_col="doc_id",
                            max_hamming=3):
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.Dedup.simhashNearDuplicates(
        df._jdf, text_col, id_col, int(max_hamming)))


def embedding_near_duplicates(df, id_col="vec_id", vec_col="embedding",
                              threshold=0.95, bands=0, planes_per_band=0,
                              seed=7):
    """bands=0 / planes_per_band=0 (defaults, matching the Scala side):
    planes scale the bucket space with the corpus and bands re-budget
    recall at `threshold` — resolves to (8, 8) for n <= 2048."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.Dedup.embeddingNearDuplicates(
        df._jdf, id_col, vec_col, float(threshold), int(bands),
        int(planes_per_band), int(seed)))


def explain_embedding_lsh_config(df, id_col="vec_id", threshold=0.95,
                                 bands=0, planes_per_band=0):
    """One-row explain of the LSH shape embedding_near_duplicates will
    resolve for this corpus: (n_vectors, planes_per_band, bands,
    buckets_per_band, effective_recall, baseline_recall). Read it before
    paying for the join; a pinned `bands` under auto-raised planes shows
    its recall loss here as a number."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.explainEmbeddingLshConfig(
        df._jdf, id_col, float(threshold), int(bands), int(planes_per_band)))


def semantic_decontaminate(corpus, holdout, id_col="vec_id",
                           vec_col="embedding", threshold=0.9):
    """Drop corpus rows whose exact cosine to any holdout vector reaches
    the threshold (semantic sibling of decontaminate: catches paraphrased
    benchmark leakage). LSH candidates, exact verify; returns survivors."""
    spark, jvm = ctx(corpus)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.semanticDecontaminate(
        corpus._jdf, holdout._jdf, id_col, vec_col, float(threshold)))


def redact(df, text="text", denylist=("key", "hash", "token")):
    """PII-style scrubbing: digit runs -> <NUM>, denylist tokens -> <PII>."""
    from ._java import to_seq
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.redact(
        df._jdf, text, to_seq(jvm, [str(w) for w in denylist])))


def hash_sample(df, bound, text="text"):
    """Deterministic content-hash sample: keep docs with md5 hex < bound."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.hashSample(
        df._jdf, bound, text))


def decontaminate(train, holdout, k=3, text_col="text", id_col="doc_id"):
    """Flag train docs sharing any distinct k-shingle with the holdout set."""
    spark, jvm = ctx(train)
    return lift(spark, jvm.graft.text.Dedup.decontaminate(
        train._jdf, holdout._jdf, int(k), text_col, id_col))


def quality_score(df, text="text"):
    """Token/char/punct/stopword signals + composite quality in [0,1]."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.qualityScore(df._jdf, text))


def lang_id(df, text="text", out="lang_pred"):
    """Stopword-profile language ID (de/en/es/fr/zh)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.langId(df._jdf, text, out))


def lang_scores(df, text="text", out="lang_pred"):
    """Per-language stopword hit counts plus the argmax prediction."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.langScores(
        df._jdf, text, out))


def connected_components(vertices, edges, max_iter=25):
    """(id, component) labels: component = min vertex id, via a driver
    union-find when the edges fit the driver budget, else iterative
    min-label propagation with pointer jumping (max_iter caps its rounds)."""
    spark, jvm = ctx(vertices)
    return lift(spark, jvm.graft.graph.ConnectedComponents.run(
        vertices._jdf, edges._jdf, int(max_iter)))


def dup_clusters(corpus, pairs, id_col="doc_id"):
    """Near-dup pairs -> connected components -> canonical doc election."""
    spark, jvm = ctx(corpus)
    return lift(spark, jvm.graft.text.Dedup.dupClusters(
        corpus._jdf, pairs._jdf, id_col))


def cluster_representatives(docs, pairs, quality_col, id_col="doc_id"):
    """Quality-aware canonical election over near-dup clusters: exactly one
    keep=True per cluster, argmax of `quality_col` with ties to min id."""
    spark, jvm = ctx(docs)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.clusterRepresentatives(
        docs._jdf, pairs._jdf, quality_col, id_col))


def leakage_free_split(docs, pairs, n_splits, id_col="doc_id"):
    """Assign near-dup CLUSTERS (not docs) to splits so duplicates never
    straddle a train/eval boundary; seeded-hash splitter."""
    spark, jvm = ctx(docs)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.leakageFreeSplit(
        docs._jdf, pairs._jdf, int(n_splits), id_col))


def duplicate_spans(df, k=5, text_col="text", id_col="doc_id"):
    """Per-doc ratio of k-gram spans appearing in at least one other doc."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.Dedup.duplicateSpans(
        df._jdf, int(k), text_col, id_col))


def remove_duplicated_spans(df, k=5, min_doc_freq=2, text_col="text",
                            id_col="doc_id"):
    """Cleaned text with every word covered by a k-gram shared across
    >= min_doc_freq docs dropped (boilerplate-span removal)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.removeDuplicatedSpans(
        df._jdf, int(k), int(min_doc_freq), text_col, id_col))


def sequence_packing(df, capacity, text_col="text", id_col="doc_id"):
    """GPT-style pack-then-chunk layout: per doc its global token offset
    and the first/last packed sequence at the given capacity."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.sequencePacking(
        df._jdf, int(capacity), text_col, id_col))


def packing_summary(df, capacity, text_col="text", id_col="doc_id"):
    """Capacity-planner totals for sequence_packing: token total, sequence
    count, boundary-spanning docs, tail waste."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.packingSummary(
        df._jdf, int(capacity), text_col, id_col))


def bin_packing(df, capacity, text_col="text", id_col="doc_id",
                domain_size=0):
    """No-split next-fit bin packing (SFT-style): docs go whole into bins,
    packed independently per id-domain (domain_size 0 auto-derives
    ~parallelism equal-population id-range domains)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.binPacking(
        df._jdf, int(capacity), text_col, id_col, int(domain_size)))


def token_budget_sample(df, budget, text_col="text", id_col="doc_id"):
    """Reproducible token-budget sample: the prefix of the deterministic
    md5 shuffle order whose running token total reaches `budget` — the
    same documents every run, on any cluster. The boundary-straddling doc
    is included; `sample_offset` (tokens before the doc) lets a chunker
    trim the tail exactly."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.tokenBudgetSample(
        df._jdf, int(budget), text_col, id_col))


def corpus_shuffle(df, key_cols=("doc_id",)):
    """Deterministic md5-ordered corpus shuffle: every row gets a
    reproducible global training position (dense 0..n-1), no RNG."""
    spark, jvm = ctx(df)
    jlist = jvm.java.util.ArrayList()
    for c in key_cols:
        jlist.add(str(c))
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.corpusShuffle(
        df._jdf, jlist))


def minhash_index(df, text_col="text", id_col="doc_id", k=3, num_hashes=64):
    """Persisted near-dup index: (id, sig, sh) rows; write as parquet and
    dedup later batches against it without rescanning corpus text."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.minhashIndex(
        df._jdf, text_col, id_col, int(k), int(num_hashes)))


def incremental_minhash_near_duplicates(batch, index, text_col="text",
                                        id_col="doc_id", k=3, num_hashes=64,
                                        bands=16, threshold=0.7):
    """Near-dup pairs of a NEW batch vs a minhash_index and itself — equal
    to the full pipeline on index+batch restricted to pairs touching the
    batch."""
    spark, jvm = ctx(batch)
    return lift(spark,
        jvm.graft.api.java.JavaPipelineOps.incrementalMinhashNearDuplicates(
            batch._jdf, index._jdf, text_col, id_col, int(k),
            int(num_hashes), int(bands), float(threshold)))


def exact_index(df, text_col="text", id_col="doc_id", canonical=False):
    """Persisted exact-dedup index: one (fp, keep_id) row per distinct
    content."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.exactIndex(
        df._jdf, text_col, id_col, bool(canonical)))


def exact_incremental(batch, index, text_col="text", id_col="doc_id",
                      canonical=False):
    """Flag each batch doc whose fingerprint exists in the index or earlier
    in the batch; returns (id, fp, is_dup, dup_of)."""
    spark, jvm = ctx(batch)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.exactIncremental(
        batch._jdf, index._jdf, text_col, id_col, bool(canonical)))


def repetition_signals(df, text="text", id_col="doc_id"):
    """Gopher-style word repetition/shape signals per document."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.repetitionSignals(
        df._jdf, text, id_col))


def ngram_repetition_signals(df, id_col="doc_id", text="text"):
    """Gopher n-gram repetition signals: top n-gram char fraction (n=2..4)
    and duplicate n-gram char fraction (n=5..10), one compiled pass/doc."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.ngramRepetitionSignals(
        df._jdf, id_col, text))


def stratified_sample(df, rates, strata="source", text="text",
                      default_rate=0.0):
    """Deterministic content-hash sample at per-stratum target rates."""
    spark, jvm = ctx(df)
    jmap = jvm.java.util.HashMap()
    for k, v in rates.items():
        jmap.put(str(k), float(v))
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.stratifiedSample(
        df._jdf, jmap, strata, text, float(default_rate)))


def mix_weights(df, target_shares, budget_tokens, strata="source",
                text="text"):
    """Per-source keep rates that hit target corpus shares under a token
    budget — the planning step before stratified_sample executes it."""
    spark, jvm = ctx(df)
    jmap = jvm.java.util.HashMap()
    for k, v in target_shares.items():
        jmap.put(str(k), float(v))
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.mixWeights(
        df._jdf, jmap, int(budget_tokens), strata, text))


def mixture_plan(df, weights, token_budget, max_epochs=10.0, strata="source",
                 text_col="text"):
    """Per-source token allocation + EPOCHS under a budget (the upsampling
    complement of mix_weights' keep-rates)."""
    spark, jvm = ctx(df)
    jmap = jvm.java.util.HashMap()
    for k, v in weights.items():
        jmap.put(str(k), float(v))
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.mixturePlan(
        df._jdf, jmap, int(token_budget), float(max_epochs), strata, text_col))


def mixture_upsample(df, weights, token_budget, max_epochs=10.0,
                     strata="source", text_col="text", id_col="doc_id"):
    """Materialize the mixture deterministically: floor(epochs) copies per
    doc plus a positional-rule fractional copy; one row per copy."""
    spark, jvm = ctx(df)
    jmap = jvm.java.util.HashMap()
    for k, v in weights.items():
        jmap.put(str(k), float(v))
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.mixtureUpsample(
        df._jdf, jmap, int(token_budget), float(max_epochs), strata,
        text_col, id_col))


def chunk_docs(df, window, overlap, id_col="doc_id", text="text"):
    """Split documents into `window`-token chunks advancing by
    window - overlap; every token position covered."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.chunkDocs(
        df._jdf, int(window), int(overlap), id_col, text))


def packing_plan(df, window, strata="source", id_col="doc_id", text="text"):
    """Sequence-packing plan: per-stratum token streams cut into
    `window`-token training bins (start offset / bin id / straddle)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.packingPlan(
        df._jdf, int(window), strata, id_col, text))


def winnowing_fingerprints(df, k=5, w=4, id_col="doc_id", text="text"):
    """MOSS winnowing: min k-gram hash per w-window, distinct per doc —
    local fingerprints for substring-level dedup."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.winnowingFingerprints(
        df._jdf, int(k), int(w), id_col, text))


def winnowing_duplication(df, k=5, w=4, id_col="doc_id", text="text"):
    """Per-doc share of winnowing fingerprints seen in other docs — the
    substring-level duplication signal."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.winnowingDuplication(
        df._jdf, int(k), int(w), id_col, text))


def distribution_drift(df, ref_filter, cur_filter, strata="source"):
    """PSI drift of the `strata` mix between two cohort filters (pyspark
    Column predicates) — the corpus snapshot-drift monitor."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.distributionDrift(
        df._jdf, ref_filter._jc, cur_filter._jc, strata))


def bottom_k_sample(df, k, id_col="doc_id", text="text"):
    """Mergeable reservoir-equivalent: the k rows with the smallest content
    hashes (reproducible, append-stable, TakeOrderedAndProject plan)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.bottomKSample(
        df._jdf, int(k), id_col, text))


def stratum_cap_sample(df, cap, strata="source", id_col="doc_id", text="text"):
    """Per-stratum capped bottom-k sample (the 'domain cap' curation step):
    within each stratum keep the cap rows with the smallest content hashes.
    Bounded two-phase top-K — no stratum-wide sort. Returns (strata, id,
    sample_key); semi-join on id to recover full rows."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.stratumCapSample(
        df._jdf, int(cap), strata, id_col, text))


def gopher_filter(df, id_col="doc_id", text_col="text", min_words=10,
                  max_words=100000, min_mean_len=3.0, max_mean_len=12.0,
                  min_alpha_ratio=0.8, max_dup_ratio=0.4, min_stopwords=2):
    """Gopher-style hard quality gate: signals + 0/1 rule flags + keep."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.gopherFilter(
        df._jdf, id_col, text_col, int(min_words), int(max_words),
        float(min_mean_len), float(max_mean_len), float(min_alpha_ratio),
        float(max_dup_ratio), int(min_stopwords)))


def top_k_bigrams(df, k, text_col="text"):
    """Top-k word bigrams by occurrence (BPE merge-candidate table)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.topKBigrams(
        df._jdf, int(k), text_col))


def unigram_log_prob(df, id_col="doc_id", text="text"):
    """Corpus unigram-LM score per doc: mean -ln p(token) (CCNet-style)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.unigramLogProb(
        df._jdf, id_col, text))


def tfidf_top_terms(df, k, id_col="doc_id", text="text"):
    """Top-k TF-IDF keywords per document (rounded-score ranking)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.tfidfTopTerms(
        df._jdf, int(k), id_col, text))


def shingle_commonality(df, k=3, id_col="doc_id", text="text"):
    """Per-doc fraction of distinct k-shingles shared with another doc."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.shingleCommonality(
        df._jdf, int(k), id_col, text))


def top_k_ngrams(df, n, k, id_col="doc_id", text="text"):
    """Top-k word n-grams with doc frequency (boilerplate detector)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.topKNgrams(
        df._jdf, int(n), int(k), id_col, text))


def top_k_ngrams_sketched(df, n, k, min_count=5, width=1 << 20,
                          id_col="doc_id", text="text"):
    """top_k_ngrams with a bounded-width frequent-candidate pre-filter;
    identical result whenever the true k-th count reaches min_count."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.topKNgramsSketched(
        df._jdf, int(n), int(k), int(min_count), int(width), id_col, text))


def zipf_fit(df, text="text"):
    """Zipf-law OLS of ln(frequency) on ln(rank) over the corpus vocabulary
    (distributed rank — no single-partition window)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.zipfFit(df._jdf, text))


def quality_tier_sample(df, hi_threshold=0.85, mid_threshold=0.78,
                        hi_rate=1.0, mid_rate=0.25, low_rate=0.0625,
                        id_col="doc_id", text="text"):
    """Quality-tiered deterministic content-hash sampling."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.qualityTierSample(
        df._jdf, float(hi_threshold), float(mid_threshold), float(hi_rate),
        float(mid_rate), float(low_rate), id_col, text))


def dedup_chunks(df, chunk_tokens=20, text="text", id_col="doc_id"):
    """C4-style chunk dedup: keep the first corpus-wide occurrence of each
    chunk_tokens-token chunk; returns per-doc n_chunks/n_kept/kept_text."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.Dedup.dedupChunks(
        df._jdf, int(chunk_tokens), text, id_col))


def bigram_logprob(df, id_col="doc_id", text="text"):
    """Corpus bigram-LM conditional perplexity proxy per document."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.bigramLogProb(
        df._jdf, id_col, text))


def lm_perplexity_gate(df, max_perplexity, id_col="doc_id", text="text"):
    """CCNet-style LM quality gate: keep flag from bigram perplexity."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.text.TextFunctions.lmPerplexityGate(
        df._jdf, float(max_perplexity), id_col, text))


def log_odds_keywords(df, strata="source", text="text", alpha0=500.0, top_k=5):
    """Fightin'-Words weighted log-odds (informative Dirichlet prior):
    top-k tokens distinguishing each stratum from the rest."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.logOddsKeywords(
        df._jdf, strata, text, float(alpha0), int(top_k)))


def temperature_mix(df, alpha=0.7, strata="source", text="text"):
    """Temperature-scaled source mixture weights (p_i^alpha renormalized —
    the multilingual-LM upweighting recipe) with resample factors."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.temperatureMix(
        df._jdf, float(alpha), strata, text))


def code_detect(df, symbol_threshold=0.05, id_col="doc_id", text="text"):
    """Code-vs-prose gate: regex-free symbol-ratio + polyglot keyword
    signals in one codegen'd narrow projection."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.codeDetect(
        df._jdf, float(symbol_threshold), id_col, text))


def feature_hash_embedding(df, dim=64, id_col="doc_id", text="text"):
    """Hashing-trick document embeddings: token counts folded into `dim`
    power-of-two buckets by rolling hash, L2-normalized — feeds the
    embedding surface (SemDeDup/ANN) without a learned encoder."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.featureHashEmbedding(
        df._jdf, int(dim), id_col, text))


def snapshot_diff(old_df, new_df, id_col="doc_id", text="text",
                  strata="source"):
    """Recrawl diff monitor: per-stratum added/removed/edited/unchanged
    counts between two corpus versions (canonical fingerprints, so
    formatting noise is not an edit)."""
    spark, jvm = ctx(old_df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.snapshotDiff(
        old_df._jdf, new_df._jdf, id_col, text, strata))


def dsir_log_weights(raw, target, hex_chars=3, alpha=1.0, id_col="doc_id",
                     text="text"):
    """DSIR importance weights (Xie et al. 2023): per-doc hashed-ngram
    log-likelihood ratio of the target slice vs the raw corpus. Bucket
    tables broadcast; one pass per corpus. Columns (id, n_ngrams,
    log_weight)."""
    spark, jvm = ctx(raw)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.dsirLogWeights(
        raw._jdf, target._jdf, int(hex_chars), float(alpha), id_col, text))


def dsir_sample(raw, target, k, hex_chars=3, alpha=1.0, seed=42,
                id_col="doc_id", text="text"):
    """Gumbel-top-k resampling over the DSIR weights: a deterministic
    without-replacement sample proportional to softmax(log_weight)."""
    spark, jvm = ctx(raw)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.dsirSample(
        raw._jdf, target._jdf, int(k), int(hex_chars), float(alpha),
        int(seed), id_col, text))


def ccnet_buckets(df, lo=1.0/3, hi=2.0/3, strata="source", id_col="doc_id",
                  text="text"):
    """CCNet head/middle/tail perplexity tiers per stratum (bigram-LM
    perplexity, exact per-stratum quantile thresholds)."""
    spark, jvm = ctx(df)
    return lift(spark, jvm.graft.api.java.JavaPipelineOps.ccnetBuckets(
        df._jdf, float(lo), float(hi), strata, id_col, text))


def contamination_score(train, holdout, k=3, text_col="text",
                        id_col="doc_id"):
    """Scored contamination report: per train doc its distinct k-shingle
    count, holdout hits, and overlap fraction (0-overlap docs included)."""
    spark, jvm = ctx(train)
    return lift(spark, jvm.graft.text.Dedup.contaminationScore(
        train._jdf, holdout._jdf, int(k), text_col, id_col))
