"""TimeSeriesDataFrame: the Python surface of the engine
(mirrors /root/reference/python/ts/flint/dataframe.py:107 over our Scala
API; every JVM call goes through graft.python.PyApi)."""

# The classic (py4j-backed) DataFrame: pyspark 4's pyspark.sql.DataFrame is
# an abstract facade whose __new__ dispatches between classic and connect;
# a py4j binding is classic by construction.
from pyspark.sql.classic.dataframe import DataFrame


def _api(df):
    return df.sparkSession._jvm.graft.python.PyApi


def _jlist(session, items):
    """Python list[str] -> java.util.ArrayList[String] (None -> empty)."""
    jl = session._jvm.java.util.ArrayList()
    for x in items or []:
        jl.add(x)
    return jl


def _wrap(jdf, session):
    return TimeSeriesDataFrame(DataFrame(jdf, session))


class TimeSeriesDataFrame(DataFrame):
    """A pyspark DataFrame with a canonical long-nanos ``time`` column and
    the graft time-series / as-of operator surface.

    Construct from any DataFrame with :meth:`from_df` (canonizes the time
    column), or wrap an already-canonical frame directly.
    """

    # pyspark.sql.DataFrame.__new__ dispatches classic-vs-connect from its
    # (jdf, sql_ctx) arguments; our wrapper constructor takes a DataFrame,
    # so bypass that dispatch (we are classic by construction).
    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, df):
        super().__init__(df._jdf, df.sparkSession)

    # ------------------------------------------------------------ factory

    @classmethod
    def from_df(cls, df, time_column="time", unit_to_nanos=1, is_sorted=None,
                num_partitions=0):
        """Canonize ``time_column`` (rename to ``time``, convert to long
        nanos, move first) - the ingest path (≙ fromDF).

        ``is_sorted=None`` (default) only canonizes. ``is_sorted=False``
        additionally range-sorts by time (one shuffle); ``is_sorted=True``
        trusts the caller's ordering (zero shuffle — the fromSortedDF fast
        path; pair with ``validate()``)."""
        if is_sorted is None:
            jdf = _api(df).canonize(df._jdf, time_column, unit_to_nanos)
        else:
            jdf = _api(df).fromDF(df._jdf, bool(is_sorted), time_column,
                                  unit_to_nanos, num_partitions)
        return _wrap(jdf, df.sparkSession)

    def _with(self, jdf):
        return _wrap(jdf, self.sparkSession)

    # ----------------------------------------------------------- row ops

    def between(self, begin_nanos, end_nanos):
        return self._with(_api(self).between(self._jdf, begin_nanos, end_nanos))

    def order_by_time(self, num_partitions=0):
        return self._with(_api(self).orderByTime(self._jdf, num_partitions))

    def keep_columns(self, *cols):
        return self._with(_api(self).keepColumns(
            self._jdf, _jlist(self.sparkSession, list(cols))))

    def delete_columns(self, *cols):
        return self._with(_api(self).deleteColumns(
            self._jdf, _jlist(self.sparkSession, list(cols))))

    def rename_columns(self, mapping):
        s = self.sparkSession
        return self._with(_api(self).renameColumns(
            self._jdf, _jlist(s, list(mapping.keys())),
            _jlist(s, list(mapping.values()))))

    def cast_column(self, col, to_type):
        return self._with(_api(self).castColumn(self._jdf, col, to_type))

    def add_column(self, name, sql_expr):
        return self._with(_api(self).addColumn(self._jdf, name, sql_expr))

    def shift(self, duration, forward=True):
        return self._with(_api(self).shift(self._jdf, duration, forward))

    def set_time(self, sql_expr):
        return self._with(_api(self).setTime(self._jdf, sql_expr))

    def coalesce_ordered(self, n):
        """Adjacent-only partition merge preserving global time order."""
        return self._with(_api(self).coalesce(self._jdf, n))

    def validate(self):
        """Assert per-partition sortedness + non-overlapping ranges."""
        _api(self).validate(self._jdf)
        return self

    def merge(self, other):
        return self._with(_api(self).merge(self._jdf, other._jdf))

    # -------------------------------------------------------------- joins

    def left_join(self, right, tolerance="0ns", key=None, left_alias=None,
                  right_alias=None, binned=False):
        """Backward as-of join (≙ leftJoin)."""
        return self._with(_api(self).leftJoin(
            self._jdf, right._jdf, tolerance,
            _jlist(self.sparkSession, key), left_alias or "", right_alias or "",
            binned))

    def future_left_join(self, right, tolerance="0ns", key=None,
                         left_alias=None, right_alias=None,
                         strict_lookahead=False, binned=False):
        """Forward as-of join (≙ futureLeftJoin)."""
        return self._with(_api(self).futureLeftJoin(
            self._jdf, right._jdf, tolerance,
            _jlist(self.sparkSession, key), left_alias or "", right_alias or "",
            strict_lookahead, binned))

    def symmetric_join(self, right, tolerance="0ns", key=None,
                       left_alias=None, right_alias=None, binned=False):
        """Full-outer as-of join (≙ symmetricJoin); ``binned=True`` selects
        the (key, tolerance-bin) scale path for keyless/skewed input."""
        return self._with(_api(self).symmetricJoin(
            self._jdf, right._jdf, tolerance,
            _jlist(self.sparkSession, key), left_alias or "",
            right_alias or "", binned))

    # ------------------------------------------------------- aggregations

    def summarize(self, summarizer, key=None):
        return self._with(_api(self).summarize(
            self._jdf, summarizer._jsum(self.sparkSession),
            _jlist(self.sparkSession, key)))

    def summarize_cycles(self, summarizer, key=None):
        """One row per (time, key...) cycle. ``summarizer`` is either a
        Scala summarizer from :mod:`graft.summarizers`, or a dict of
        ``{out_name: bound @graft.udf call}`` evaluated via Spark's native
        Arrow exchange (applyInPandas) — the pandas/numpy columnar-UDF
        path (≙ the reference's summarizeCycles udf form)."""
        if isinstance(summarizer, dict):
            return self._summarize_cycles_udf(summarizer, key)
        return self._with(_api(self).summarizeCycles(
            self._jdf, summarizer._jsum(self.sparkSession),
            _jlist(self.sparkSession, key)))

    def _summarize_cycles_udf(self, columns, key, frame=None):
        from . import functions as _fx
        frame = frame if frame is not None else self
        keyc = list(key or [])
        entries = _fx.normalize_entries(columns)
        schema = _fx.summarize_schema(frame.schema, keyc, entries)
        fn = _fx.cycle_summarize_fn(keyc, entries)
        grouped = frame.groupBy(*(["time"] + keyc))
        return TimeSeriesDataFrame(grouped.applyInPandas(fn, schema))

    def group_by_cycle(self, key=None):
        return self._with(_api(self).groupByCycle(
            self._jdf, _jlist(self.sparkSession, key)))

    def summarize_intervals(self, clock, summarizer, key=None,
                            inclusion="begin", rounding="end"):
        """Interval-bucketed summarize. Dict summarizers follow the
        pandas-UDF path: the Scala engine assigns interval stamps
        (identical inclusion/rounding semantics), then the UDFs run over
        the bucketed cycles via applyInPandas."""
        if isinstance(summarizer, dict):
            bucketed = self._with(_api(self).intervalize(
                self._jdf, clock._jdf, inclusion, rounding))
            return self._summarize_cycles_udf(summarizer, key, frame=bucketed)
        return self._with(_api(self).summarizeIntervals(
            self._jdf, clock._jdf, summarizer._jsum(self.sparkSession),
            _jlist(self.sparkSession, key), inclusion, rounding))

    def group_by_interval(self, clock, key=None, inclusion="begin",
                          rounding="end"):
        return self._with(_api(self).groupByInterval(
            self._jdf, clock._jdf, _jlist(self.sparkSession, key),
            inclusion, rounding))

    def summarize_windows(self, summarizer, past=None, future=None, key=None,
                          window=None):
        """Per-row absolute-time window summaries. Pass durations via
        ``past=``/``future=``, or a ``graft.windows`` spec via ``window=``
        (the reference-style call form). Dict summarizers follow
        the pandas-UDF path: one applyInPandas over each key group, window
        slices located by searchsorted — every input row comes back with
        one column per udf output. Keyless input collapses to a single
        group on this path (use the Scala summarizers for keyless scale)."""
        if window is not None:
            past, future = window.past, window.future
        if isinstance(summarizer, dict):
            return self._summarize_windows_udf(summarizer, past, future, key)
        return self._with(_api(self).summarizeWindows(
            self._jdf, summarizer._jsum(self.sparkSession),
            past or "", future or "", _jlist(self.sparkSession, key)))

    def _summarize_windows_udf(self, columns, past, future, key):
        from pyspark.sql import functions as F
        from . import functions as _fx
        if (past is None) == (future is None):
            raise ValueError("exactly one of past/future is required")
        keyc = list(key or [])
        entries = _fx.normalize_entries(columns)
        schema = _fx.appended_schema(self.schema, entries)
        fn = _fx.window_append_fn(
            entries,
            past_nanos=_fx.parse_nanos(past) if past else None,
            future_nanos=_fx.parse_nanos(future) if future else None)
        grouped = (self.groupBy(*keyc) if keyc
                   else self.groupBy(F.lit(0)))
        return TimeSeriesDataFrame(grouped.applyInPandas(fn, schema))

    def summarize_windows_rows(self, summarizer, past=0, future=0, key=None,
                               tie_break=None):
        """Row-count window frame: the current row plus `past` preceding or
        `future` following rows (pass exactly one). ``tie_break`` columns
        make the frame deterministic under equal times."""
        return self._with(_api(self).summarizeWindowsRows(
            self._jdf, summarizer._jsum(self.sparkSession), past, future,
            _jlist(self.sparkSession, key),
            _jlist(self.sparkSession, tie_break)))

    def add_windows(self, past=None, future=None, key=None, window=None):
        if window is not None:
            past, future = window.past, window.future
        return self._with(_api(self).addWindows(
            self._jdf, past or "", future or "",
            _jlist(self.sparkSession, key)))

    def add_columns_for_cycle(self, func, schema=None, key=None):
        """Apply per-cycle columns over every (time, key...) cycle — the
        GROUPED_MAP path of the reference's addColumnsForCycle python
        surface, on Spark's native Arrow exchange (applyInPandas).

        Two forms:

        - ``func`` a dict ``{out_name: bound @graft.udf call}`` where each
          udf returns a Series (or array) aligned with the cycle — the
          output schema is derived automatically (input columns + one
          field per udf output);
        - ``func`` a raw callable ``pdf -> pdf`` with an explicit output
          ``schema`` DDL (the escape hatch for whole-frame rewrites)."""
        keyc = list(key or [])
        grouped = self.groupBy(*(["time"] + keyc))
        if isinstance(func, dict):
            from . import functions as _fx
            entries = _fx.normalize_entries(func)
            schema = _fx.appended_schema(self.schema, entries)
            func = _fx.cycle_append_fn(entries)
        elif schema is None:
            raise ValueError("schema is required for the raw-callable form")
        return TimeSeriesDataFrame(grouped.applyInPandas(func, schema))

    def add_lag_sum(self, col, window, lag, key=None):
        """Overlappable lag-window sum: appends ``<col>_sum`` over the core
        window [t-window, t] and ``<col>_lagSum`` over the preceding band
        [t-window-lag, t-window) — both range frames behind one exchange."""
        return self._with(_api(self).addLagSum(
            self._jdf, col, window, lag, _jlist(self.sparkSession, key)))

    def add_summary_columns(self, summarizer, key=None, tie_break=None):
        return self._with(_api(self).addSummaryColumns(
            self._jdf, summarizer._jsum(self.sparkSession),
            _jlist(self.sparkSession, key),
            _jlist(self.sparkSession, tie_break)))

    # --------------------------------------------------------- EMA family

    def exponential_smoothing(self, col, key=None, alpha=0.05,
                              priming_periods=1.0,
                              nanos_per_period=86400e9,
                              interpolation="current", convention="core",
                              per_row=False):
        fn = (_api(self).exponentialSmoothingRows if per_row
              else _api(self).exponentialSmoothing)
        return self._with(fn(self._jdf, col, _jlist(self.sparkSession, key),
                             alpha, priming_periods, nanos_per_period,
                             interpolation, convention))

    def ewma(self, col, key=None, alpha=0.05, duration_per_period="1d",
             convention="legacy", per_row=False):
        fn = _api(self).ewmaRows if per_row else _api(self).ewma
        return self._with(fn(self._jdf, col, _jlist(self.sparkSession, key),
                             alpha, duration_per_period, convention))

    # ------------------------------------------------- LLM pipeline ops

    def exact_dedup(self, id_col, text_col, normalize=True):
        return self._with(_api(self).exactDedup(
            self._jdf, id_col, text_col, normalize))

    def minhash_dedup_pairs(self, id_col, text_col, num_hashes=128, bands=16,
                            shingle_size=3, threshold=0.7, max_bucket_size=64,
                            strict=False):
        """Near-duplicate (id_a, id_b, jaccard) pairs via banded
        MinHash-LSH + exact Jaccard verify. ``strict=True`` fails on the
        first bucket over ``max_bucket_size`` instead of silently mining
        only its smallest ids (see ``min_hash_bucket_audit``)."""
        return self._with(_api(self).minHashDedupPairs(
            self._jdf, id_col, text_col, num_hashes, bands, shingle_size,
            threshold, max_bucket_size, bool(strict)))

    def minhash_edit_pairs(self, id_col, text_col, num_hashes=128, bands=16,
                           shingle_size=3, jaccard_floor=0.5, edit_sim=0.8,
                           max_bucket_size=64, strict=False):
        """Near-dup ``(id_a, id_b, jaccard, dist, edit_sim)`` pairs via the
        two-tier design: MinHash-LSH + exact-Jaccard shortlist at
        ``jaccard_floor``, then character-Levenshtein verify keeping pairs
        with ``1 - dist/max(len) >= edit_sim`` — rejects reordered
        boilerplate that token-set overlap alone over-merges. Per-pair DP
        cost is bounded: a length-gap prefilter prunes impossible pairs
        with zero DP and survivors run the banded thresholded
        Levenshtein, O((1-edit_sim) * max_len^2) worst case with an
        output identical to the unbounded form; the shortlist tier
        carries the same never-silent bucket cap as
        ``minhash_dedup_pairs``."""
        return self._with(_api(self).minHashEditPairs(
            self._jdf, id_col, text_col, num_hashes, bands, shingle_size,
            jaccard_floor, edit_sim, max_bucket_size, bool(strict)))

    def simhash_pairs(self, id_col, text_col, max_hamming=3,
                      max_bucket_size=64, portable=False):
        """SimHash near-dup pairs. ``portable=True`` selects the
        SQL-recomputable sketch family (cross-engine-verifiable sketches;
        xxhash-based otherwise)."""
        api = _api(self)
        if portable:
            return self._with(api.simHashPairsPortable(
                self._jdf, id_col, text_col, max_hamming, max_bucket_size))
        return self._with(api.simHashPairs(
            self._jdf, id_col, text_col, max_hamming, max_bucket_size))

    def simhash_bucket_audit(self, id_col, text_col, max_bucket_size=64,
                             portable=False):
        """Truncation audit for ``simhash_pairs``' bucket cap: per band,
        ``(band, n_buckets, n_truncated_buckets, n_dropped_ids)`` for the
        same banding — all-zero truncation counts certify a capped run
        emitted the complete pair set; run it before trusting a capped
        dedup on a new corpus."""
        return self._with(_api(self).simHashBucketAudit(
            self._jdf, id_col, text_col, max_bucket_size, bool(portable)))

    def jaccard_pairs_within(self, id_col, text_col, block_col, threshold,
                             max_block_size=2147483647):
        return self._with(_api(self).jaccardPairsWithin(
            self._jdf, id_col, text_col, block_col, threshold, max_block_size))

    def dup_clusters(self, pairs, id_col, a_col="id_a", b_col="id_b"):
        """Connected components over a near-dup pair frame: every id of
        self gets (id, cluster_id = min id of its component)."""
        return self._with(_api(self).dupClusters(
            self._jdf, pairs._jdf, id_col, a_col, b_col))

    def dedup_by_clusters(self, pairs, id_col, a_col="id_a", b_col="id_b"):
        """Keep one representative (min id) per pair-graph component."""
        return self._with(_api(self).dedupByClusters(
            self._jdf, id_col, pairs._jdf, a_col, b_col))

    def dedup_by_clusters_keep_best(self, pairs, id_col, score_col):
        """Keep the HIGHEST-``score_col`` member per pair-graph component
        (ties -> smallest id) — the 'keep the best copy' dedup policy."""
        return self._with(_api(self).dedupByClustersKeepBest(
            self._jdf, id_col, pairs._jdf, score_col))

    def sample_by_hash(self, id_col, rate, seed=42):
        """Deterministic seeded Bernoulli sample (portable hash; nested
        across rates, partition-independent)."""
        return self._with(_api(self).sampleByHash(
            self._jdf, id_col, float(rate), seed))

    def sample_by_weight(self, id_col, weight_col, rate, seed=42):
        """Weighted (PPS) Poisson sample: row survives with probability
        ``min(1, rate * weight)``. Deterministic; rejects negative weights."""
        return self._with(_api(self).sampleByWeight(
            self._jdf, id_col, weight_col, float(rate), seed))

    def sample_by_rates(self, strata_col, id_col, rates, default_rate=0.0,
                        seed=42):
        """Per-stratum sampling rates (training-mix construction).
        ``rates`` is a dict {stratum: rate}."""
        s = self.sparkSession
        jr = s._jvm.java.util.ArrayList()
        for v in rates.values():
            jr.add(float(v))
        return self._with(_api(self).sampleByRates(
            self._jdf, strata_col, id_col,
            _jlist(s, list(rates.keys())), jr, float(default_rate), seed))

    def quota_per_stratum(self, strata_cols, id_col, n, seed=42):
        """Deterministic fixed quota per stratum (smallest-hash rows)."""
        return self._with(_api(self).quotaPerStratum(
            self._jdf, _jlist(self.sparkSession, list(strata_cols)),
            id_col, n, seed))

    def pack_sequences(self, id_col, tokens_col, budget, num_buckets=1024,
                       seed=42):
        """Exact greedy sequence packing into fixed token budgets: appends
        pack_bucket / pack_id / pack_offset. Deterministic, parallel per
        hash bucket."""
        return self._with(_api(self).packSequences(
            self._jdf, id_col, tokens_col, budget, num_buckets, seed))

    def shuffle_positions(self, id_col, seed=42):
        """Deterministic global corpus shuffle: appends shuffle_pos
        (0-based position in seeded-hash order). Distributed range sort +
        zipWithIndex — never a one-task window."""
        return self._with(_api(self).shufflePositions(self._jdf, id_col, seed))

    def pipeline(self, id_col="doc_id", text_col="text", min_words=50,
                 max_words=100000, num_hashes=128, bands=16, shingle_size=3,
                 jaccard=0.5, span_n=4, sample_rate=0.9, pack_budget=256,
                 pack_buckets=8, seed=42):
        """The composed pre-training pass (graft.llm.Pipeline): hard
        filter -> MinHash-LSH near-dedup -> duplicated-span strip -> PII
        scrub -> quality-weighted PPS sample -> sequence packing ->
        deterministic epoch shuffle. The two multi-consumer stages are
        cached for the call and released before it returns. The call is
        EAGER (the dedup rounds and the shuffle sort run now)."""
        return self._with(_api(self).pipelineRun(
            self._jdf, id_col, text_col, min_words, max_words, num_hashes,
            bands, shingle_size, jaccard, span_n, float(sample_rate),
            pack_budget, pack_buckets, seed))

    def top_k_tokens(self, text_col, k):
        """Exact corpus top-k token frequencies (count desc, token asc)."""
        return self._with(_api(self).topKTokens(self._jdf, text_col, k))

    def chunk_tokens(self, id_col, text_col, chunk_size, stride):
        """Context-window chunking: overlapping ``chunk_size``-token windows
        every ``stride`` tokens -> (id, chunk_id, chunk_text, n_chunk_tokens)
        rows. One offset-walk kernel call per document."""
        return self._with(_api(self).chunkTokens(
            self._jdf, id_col, text_col, chunk_size, stride))

    def ngram_repetition(self, id_col, text_col, n):
        """Gopher-style n-gram repetition signals per document: n_grams,
        top_frac (most frequent n-gram's occupancy) and dup_frac (fraction
        of n-gram occurrences beyond each gram's first)."""
        return self._with(_api(self).ngramRepetition(
            self._jdf, id_col, text_col, n))

    def bpe_learn_merges(self, text_col, num_merges=16, max_words=10000):
        """Distributed BPE vocabulary learning: ONE corpus pass builds a
        bounded word-frequency table (count desc, word asc cut), the
        merge loop runs driver-side on that table. Returns the
        rank-ordered ``(merge_rank, lhs, rhs, merged)`` tokenizer model —
        persist it next to the corpus."""
        return self._with(_api(self).bpeLearnMerges(
            self._jdf, text_col, num_merges, max_words))

    def bpe_encode_count(self, text_col, merges):
        """Append ``n_bpe`` = the document's encoded symbol count under a
        learned merges frame (from ``bpe_learn_merges``, in memory or read
        back from parquet) — one kernel scan per row."""
        return self._with(_api(self).bpeEncodeCount(
            self._jdf, text_col, merges._jdf))

    def bm25_topk(self, id_col, text_col, queries, qid_col="q_id",
                  qtext_col="qtext", k=10, k1=1.2, b=0.75):
        """BM25 top-k retrieval of corpus documents for each row of the
        (eval-set-sized) ``queries`` frame — the decontamination-search
        shape. Only query-term occurrences ever shuffle; idf and corpus
        totals broadcast back; a bounded top-k finisher ranks per query.
        Returns ``(q_id, doc_id, rank, score_micro)``."""
        return self._with(_api(self).bm25TopK(
            self._jdf, id_col, text_col, queries._jdf, qid_col, qtext_col,
            k, float(k1), float(b)))

    def mixture_rates(self, strata_col, weight_col, targets, budget):
        """Per-stratum sampling rates hitting explicit target mixture
        shares under a total ``weight_col`` budget (DoReMi-style domain
        weights as static downsampling). ``targets`` is a (stratum, share)
        frame. Returns the full audit table ``(stratum, n_weight,
        target_share, rate, expected_weight)`` — missing-but-targeted
        strata appear with rate 1.0, untargeted data strata with rate 0.
        Feed ``rate`` to :meth:`sample_by_rates`."""
        return self._with(_api(self).mixtureRates(
            self._jdf, strata_col, weight_col, targets._jdf, int(budget)))

    def dsir_log_weights(self, target, text_col="text", top_v=10000):
        """DSIR importance weighting (Xie et al. 2023, bounded-vocab
        variant): fit a Laplace-smoothed model of the ``target`` frame's
        token distribution relative to THIS frame (the raw/proposal side;
        top ``top_v`` raw tokens + a pooled out-of-vocabulary class) and
        append ``lw_micro`` — the integer micro-nat log importance weight
        ln(p_target/p_raw) per document. More positive = more target-like.
        Two map-side-combinable count aggregations fit the model (top_v
        parameters, never data); scoring is one kernel scan. Feed to
        :meth:`gumbel_topk` to resample, or ``exp(lw_micro/1e6)`` for the
        raw weight."""
        return self._with(_api(self).dsirLogWeights(
            self._jdf, target._jdf, text_col, int(top_v)))

    def gumbel_topk(self, id_col, score_micro_col, k, seed=42):
        """Sample ``k`` rows WITHOUT replacement with probability
        proportional to ``exp(score/1e6)`` via Gumbel-top-k: keeps the k
        largest ``score + round(Gumbel(0,1) * 1e6)`` keys, noise drawn
        from the engine's portable seeded hash of ``id_col`` (appended as
        ``gumbel_micro``). Deterministic, partition-independent, bounded
        top-k (no global sort) — the DSIR resampling step."""
        return self._with(_api(self).gumbelTopK(
            self._jdf, id_col, score_micro_col, int(k), int(seed)))

    def repetition_signals(self, id_col, text_col):
        """The line/paragraph half of the Gopher repetition suite:
        duplicate line / paragraph occurrence and char fractions per
        document (empty units excluded). One kernel scan per row, no
        shuffle."""
        return self._with(_api(self).repetitionSignals(
            self._jdf, id_col, text_col))

    def ngram_char_repetition(self, id_col, text_col, n):
        """Char-weighted n-gram repetition: per document, the top n-gram's
        char occupancy (count x gram chars over doc chars; count ties
        break toward the longer gram) and the duplicate-gram char
        fraction. Documents shorter than ``n`` tokens produce no row."""
        return self._with(_api(self).ngramCharRepetition(
            self._jdf, id_col, text_col, n))

    def ngram_overlap(self, bench, id_col, text_col, n,
                      broadcast_bench=True):
        """Benchmark decontamination: per training doc (self), the distinct
        n-gram overlap fraction against the ``bench`` corpus' n-gram set.
        ``broadcast_bench`` keeps the benchmark set broadcast while it fits
        (size-capped on the Scala side; falls back to a shuffle join)."""
        return self._with(_api(self).ngramOverlap(
            self._jdf, bench._jdf, id_col, text_col, n, broadcast_bench))

    def sign_lsh_dup_pairs(self, id_col, vec_col, planes, rows_per_band,
                           threshold):
        """Sign-LSH embedding near-duplicate pairs: band-bucket candidates
        (all band values in one kernel call per row) verified by exact
        cosine >= ``threshold``. ``planes`` is a list of lists, e.g. from
        :func:`graft.dataframe.lsh_planes`. The linear-cost scale path for
        the high-similarity regime (vs cosine_dup_pairs' IVF cells)."""
        jl = self._jcentroids(planes)
        return self._with(_api(self).signLshDupPairs(
            self._jdf, id_col, vec_col, jl, rows_per_band, threshold))

    def duplicate_spans(self, id_col, text_col, n=50):
        """ExactSubstr-style duplicated spans: maximal merged token ranges
        of n-token windows that also appear in another document (adjacent
        duplicated windows merge, so spans may bridge short gaps)."""
        return self._with(_api(self).duplicateSpans(
            self._jdf, id_col, text_col, n))

    def strip_duplicate_spans(self, id_col, text_col, spans):
        """Remove every duplicated span's tokens from ``text_col`` (the
        ExactSubstr removal policy — all copies go)."""
        return self._with(_api(self).stripDuplicateSpans(
            self._jdf, id_col, text_col, spans._jdf))

    def hard_filter(self, text_col, min_words=50, max_words=100000):
        """Gopher/C4 hard-filter audit flags (words_ok / mwl_ok / stop_ok /
        no_braces / no_lorem) plus their conjunction ``keep``."""
        return self._with(_api(self).hardFilter(
            self._jdf, text_col, min_words, max_words))

    def gopher_filter(self, text_col, min_words=50, max_words=100000):
        """The published Gopher/MassiveText quality-rule bundle as audit
        flags (words_ok / mwl_ok / symbol_ok / bullet_ok / ellipsis_ok /
        alpha_ok / stop_ok) plus their conjunction ``keep`` — one integer
        counter kernel pass, bit-stable thresholds."""
        return self._with(_api(self).gopherFilter(
            self._jdf, text_col, min_words, max_words))

    def c4_clean(self, id_col, text_col, min_sentences=3, min_line_words=5):
        """C4-style line cleaning (Raffel et al. 2020): drop lines that
        don't end in terminal punctuation, hold fewer than
        ``min_line_words`` words, or mention javascript; page-level audit
        flags ``lorem_ok`` / ``brace_ok`` / ``keep`` (>= ``min_sentences``
        sentences retained). One projection, no shuffle."""
        return self._with(_api(self).c4Clean(
            self._jdf, id_col, text_col, min_sentences, min_line_words))

    def token_entropy(self, id_col, text_col):
        """Within-document token-distribution Shannon entropy in integer
        micro-nats (quantize-per-term-then-sum, exact in any engine):
        ``n_tokens``, ``n_distinct``, ``ent_micro`` per document.
        ``ent_micro / n_tokens / 1e6`` is nats per token."""
        return self._with(_api(self).tokenEntropy(
            self._jdf, id_col, text_col))

    def pmi_top_pairs(self, text_col, k=100, min_count=5):
        """Corpus-level collocations: top-``k`` adjacent word pairs by
        pointwise mutual information (Church & Hanks) in integer
        micro-nats, pairs under ``min_count`` occurrences dropped.
        Bounded global top-k — never a window."""
        return self._with(_api(self).pmiTopPairs(
            self._jdf, text_col, k, min_count))

    def lang_segments(self, id_col, text_col):
        """Per-line language segmentation (the CCNet per-paragraph langid
        pass at line granularity): per document the majority language of
        the non-blank lines (ties -> label ascending), ``n_lines``,
        ``n_langs``, and a ``mixed`` flag for routing mixed-language pages
        to per-segment processing. One explode + one bounded count
        aggregation + a struct-max argmax — no window."""
        return self._with(_api(self).langSegments(
            self._jdf, id_col, text_col))

    def readability(self, id_col, text_col):
        """Flesch-Kincaid readability (Kincaid et al. 1975): exact surface
        counters (``n_words``, ``n_sentences`` floored at 1,
        ``n_syllables`` = vowel groups floored at 1 per word) from one
        kernel scan, plus the grade ``fk_micro`` in integer micro-units —
        too low reads as listicle/boilerplate, too high as OCR noise."""
        return self._with(_api(self).readability(
            self._jdf, id_col, text_col))

    def hybrid_topk(self, id_col, text_col, embeddings, queries,
                    vec_id_col="vec_id", vec_col="embedding",
                    qid_col="q_id", qtext_col="qtext", k_lex=20, k=5):
        """Two-stage hybrid retrieval: the BM25 top-``k_lex`` lexical
        shortlist reranked by embedding cosine (query vectors keyed by
        ``qid_col`` in ``embeddings``). The corpus embedding table streams
        once through a broadcast join against the model-sized shortlist;
        bounded heap finisher. Returns ``(q_id, doc_id, lex_rank, rank)``."""
        return self._with(_api(self).hybridTopK(
            self._jdf, embeddings._jdf, id_col, text_col, vec_id_col,
            vec_col, queries._jdf, qid_col, qtext_col, k_lex, k))

    def cms_sketch(self, text_col, depth=4, width=256):
        """Count-min sketch of the corpus token counts (Cormode &
        Muthukrishnan): a (depth*width)-cell integer counter frame
        (cell, cnt) built in ONE map-side-combinable aggregation — the
        bounded-state replacement for exact counting when the vocabulary
        can't shuffle. Estimates only ever over-count."""
        return self._with(_api(self).cmsSketch(
            self._jdf, text_col, depth, width))

    def cms_heavy_hitters(self, text_col, k=30, depth=4, width=256):
        """Exact top-``k`` token counts next to their count-min estimates
        (token, cnt, cms_cnt) — ``cms_cnt >= cnt`` always; the exact side
        audits the sketch's collision over-count."""
        return self._with(_api(self).cmsHeavyHitters(
            self._jdf, text_col, k, depth, width))

    def nb_classify(self, text_col, label_col, num_buckets=256):
        """Model-based filtering (the fastText-classifier role in
        CCNet/DCLM pipelines): train a hashed-feature multinomial Naive
        Bayes on (``text_col``, ``label_col``) — ONE map-side-combinable
        aggregation, no gradient iterations — and append ``pred`` (argmax
        label, ties -> label ascending) and ``lp_micro`` (integer
        micro-nat log-posterior). Scoring is one kernel walk per row
        against the broadcast weight matrix."""
        return self._with(_api(self).nbClassify(
            self._jdf, text_col, label_col, num_buckets))

    def nb_weights(self, text_col, label_col, num_buckets=256):
        """The hashed-NB model as a frame: (label, bucket, cnt, w_micro)
        with Laplace-smoothed integer micro-nat weights. Zero-count
        buckets are absent (they take the label's smoothed floor)."""
        return self._with(_api(self).nbWeights(
            self._jdf, text_col, label_col, num_buckets))

    def domain_edges(self, url_col, html_col):
        """(src_domain, dst_domain) multigraph edge list: registrable
        domain of each page's URL -> domain of every double-quoted
        absolute ``<a href>`` in its HTML (relative links drop). One
        regexp scan + explode."""
        return self._with(_api(self).domainEdges(
            self._jdf, url_col, html_col))

    def inlink_stats(self, url_col, html_col):
        """Per-destination-domain fan-in: ``n_inlinks`` (total inbound
        links) and ``n_src_domains`` (distinct linking domains)."""
        return self._with(_api(self).inlinkStats(
            self._jdf, url_col, html_col))

    def page_rank(self, iters=3, damp_num=85, damp_den=100,
                  src_col="src_domain", dst_col="dst_domain"):
        """Fixed-iteration integer PageRank over this frame as a
        (src, dst) edge list: every node starts at 1_000_000 micro-units;
        ``rank' = ((damp_den-damp_num)*1e6)//damp_den +
        (damp_num * sum(rank//outdeg over inbound))//damp_den``.
        All-integer arithmetic -> bit-identical ranks under any
        partitioning. Remainders and dangling-node mass are dropped
        (standard fixed-point simplifications, part of the contract)."""
        return self._with(_api(self).pageRank(
            self._jdf, iters, damp_num, damp_den, src_col, dst_col))

    def dedup_against_exact(self, existing, text_col, normalize=True):
        """Incremental exact dedup: drop rows of this frame whose content
        digest (normalized token set by default) already exists in
        ``existing``. One digest-keyed left-anti join — the existing side
        is never broadcast or collected."""
        other = existing._jdf
        return self._with(_api(self).dedupAgainstExact(
            self._jdf, other, text_col, bool(normalize)))

    def dedup_against_minhash(self, existing, id_col, text_col,
                              num_hashes=128, bands=16, shingle_size=3,
                              threshold=0.7, max_bucket_size=64,
                              strict=False):
        """Incremental NEAR dedup: drop rows sharing an LSH band bucket
        with an ``existing`` row whose exact shingle-set Jaccard clears
        ``threshold``. Both corpora shuffle on (band, bucket); existing
        buckets cap at ``max_bucket_size`` candidates. The cap is never
        silent: ``strict=True`` fails the job on the first over-cap
        bucket, and ``min_hash_bucket_audit`` (run over ``existing``)
        reports per-band truncation counts without failing."""
        other = existing._jdf
        return self._with(_api(self).dedupAgainstMinHash(
            self._jdf, other, id_col, text_col, num_hashes, bands,
            shingle_size, float(threshold), max_bucket_size, bool(strict)))

    def build_minhash_index(self, id_col, text_col, num_hashes=128,
                            shingle_size=3):
        """Persistent MinHash index of this corpus: one row per document
        with its hashed shingle set and signature, self-describing via
        ``mh_sig`` column metadata (num_hashes / shingle_size / hash
        family — all survive a parquet roundtrip). Build once per corpus
        generation and run every incremental crawl through
        ``dedup_against_index`` — at 100 TB the existing side's sketching
        is the dominant cost of ``dedup_against_minhash`` and the index
        amortizes it to zero across crawls."""
        return self._with(_api(self).buildMinHashIndex(
            self._jdf, id_col, text_col, num_hashes, shingle_size))

    def dedup_against_index(self, index, id_col, text_col, bands=16,
                            threshold=0.7, max_bucket_size=64, strict=False):
        """``dedup_against_minhash`` with the existing corpus represented
        by its ``build_minhash_index`` output (in memory or read back from
        parquet): identical survivors, no recompute of the existing side.
        Fails fast on a missing/mismatched index hash family."""
        return self._with(_api(self).dedupAgainstIndex(
            self._jdf, index._jdf, id_col, text_col, bands,
            float(threshold), max_bucket_size, bool(strict)))

    def dedup_against_bloom_exact(self, existing, text_col, normalize=True,
                                  expected_items=-1, fpp=0.03):
        """``dedup_against_exact`` with a distributed Bloom-filter
        prefilter of the existing digests: filter-negative rows are
        provably new and skip the anti-join shuffle entirely; positives
        are re-checked exactly, so survivors are identical. Sizing is
        capped by Spark's runtime bloom-filter confs — raise them for
        billion-document corpora; beyond the cap only the fpp (and thus
        the prefilter's selectivity) degrades, never correctness."""
        return self._with(_api(self).dedupAgainstBloomExact(
            self._jdf, existing._jdf, text_col, bool(normalize),
            int(expected_items), float(fpp)))

    def min_hash_bucket_audit(self, id_col, text_col, num_hashes=128,
                              bands=16, shingle_size=3, max_bucket_size=64):
        """Truncation audit for the LSH bucket cap: per band,
        ``(band, n_buckets, n_truncated_buckets, n_dropped_ids)`` for the
        same banded buckets ``minhash_dedup_pairs`` /
        ``dedup_against_minhash`` would build with these parameters.
        All-zero ``n_truncated_buckets`` certifies a capped run was
        exhaustive. Same single-shuffle shape as the pair miner — safe at
        full corpus size."""
        return self._with(_api(self).minHashBucketAudit(
            self._jdf, id_col, text_col, num_hashes, bands, shingle_size,
            max_bucket_size))

    def blocklist_audit(self, text_col, words):
        """Append ``n_blocked`` (count of blocklisted tokens, one kernel
        pass) and ``keep`` (= no hits) — the C4-style word blocklist."""
        return self._with(_api(self).blocklistAudit(
            self._jdf, text_col, _jlist(self.sparkSession, list(words))))

    def quality_buckets(self, strata_col, score_col, f1=1.0 / 3, f2=2.0 / 3,
                        approx_accuracy=0):
        """Append ``bucket`` = head/middle/tail by per-stratum quantile
        cutpoints of ``score_col`` (CCNet-style mix step). Cutpoints are
        exact R-7 by default; pass ``approx_accuracy > 0`` to compute them
        with the bounded-memory approx_percentile sketch instead (rank
        error ~ 1/accuracy, O(accuracy) state per stratum — the 100 TB
        path; the exact path buffers each stratum's scores in one
        aggregation buffer)."""
        return self._with(_api(self).qualityBuckets(
            self._jdf, strata_col, score_col, float(f1), float(f2),
            int(approx_accuracy)))

    def quality_buckets_computed(self, strata_col, score_expr, input_cols,
                                 f1=1.0 / 3, f2=2.0 / 3, approx_accuracy=0,
                                 eager=False):
        """``quality_buckets`` over an EXPENSIVE score: ``score_expr`` (a
        SQL expression string, e.g. a quality-kernel call) is evaluated
        ONCE via a persisted narrow (``input_cols`` + score) projection
        instead of once per pass. Output: ``input_cols`` + ``bucket``.

        Cache lifetime: lazily (default) the score cache stays registered
        — a loop of many calls should release between iterations with
        ``spark.catalog.clearCache()``. With ``eager=True`` the labeled
        output is materialized and the score cache released before
        returning; the only remaining cache is the small result, released
        with ``result.unpersist()`` when you are done with it."""
        return self._with(_api(self).qualityBucketsComputed(
            self._jdf, strata_col, score_expr,
            _jlist(self.sparkSession, list(input_cols)),
            float(f1), float(f2), int(approx_accuracy), bool(eager)))

    def strip_boilerplate(self, id_col, group_col, text_col, min_docs=2):
        """Delete every line of ``text_col`` that repeats across at least
        ``min_docs`` distinct documents of the same ``group_col`` group
        (CCNet/RefinedWeb-style per-domain line dedup); surviving lines
        keep their order, fully-boilerplate docs become empty strings."""
        return self._with(_api(self).stripBoilerplate(
            self._jdf, id_col, group_col, text_col, int(min_docs)))

    def dedup_paragraphs(self, id_col, text_col, min_chars=1):
        """Corpus-global exact paragraph dedup, keep-first: a paragraph
        (blank-line separated) of >= ``min_chars`` chars appearing in
        several documents survives only in the lowest-id one."""
        return self._with(_api(self).dedupParagraphs(
            self._jdf, id_col, text_col, int(min_chars)))

    def corpus_diff(self, new_df, id_col, text_col):
        """Classify every id across two corpus versions (self = old) as
        added / removed / changed / unchanged by content hash — the
        incremental-reprocessing primitive."""
        other = new_df._jdf if isinstance(new_df, TimeSeriesDataFrame) \
            else new_df._jdf
        return self._with(_api(self).corpusDiff(
            self._jdf, other, id_col, text_col))

    def tfidf_top_terms(self, id_col, text_col, k):
        """Top-``k`` terms per document by tf-idf with integer micro-nat
        idf quantization (bit-exact ranking on any engine), finished by
        the bounded-k heap aggregation. Returns (id, term, rank,
        score_micro)."""
        return self._with(_api(self).tfidfTopTerms(
            self._jdf, id_col, text_col, int(k)))

    def filter_blocked_domains(self, url_col, blocked, suffixes=()):
        """Drop rows whose registrable domain is blocklisted; URL-less
        rows survive. ``suffixes`` optionally resolves domains against a
        public-suffix set."""
        return self._with(_api(self).filterBlockedDomains(
            self._jdf, url_col, _jlist(self.sparkSession, list(blocked)),
            _jlist(self.sparkSession, list(suffixes))))

    def unigram_model(self, text_col, top_k):
        """Train a bounded unigram LM: ([(token, lp_micro)], oov_lp_micro)
        with quantized integer micro-nat logprobs (order-independent exact
        score sums)."""
        jm = _api(self).unigramModel(self._jdf, text_col, top_k)
        return [(p[0], int(p[1])) for p in jm[0]], int(jm[1])

    def unigram_score(self, text_col, model, oov_lp):
        """Append ``lp_micro``: the document's unigram LM score in integer
        micro-nats (CCNet-style corpus-likeness signal; more negative =
        less corpus-like)."""
        jvm = self.sparkSession._jvm
        jv = jvm.java.util.ArrayList()
        for t, l in model:
            jp = jvm.java.util.ArrayList()
            jp.add(t)
            jp.add(int(l))
            jv.add(jp)
        return self._with(_api(self).unigramScore(
            self._jdf, text_col, jv, int(oov_lp)))

    def _jlp(self, model):
        jvm = self.sparkSession._jvm
        jv = jvm.java.util.ArrayList()
        for t, l in model:
            jp = jvm.java.util.ArrayList()
            jp.add(t)
            jp.add(int(l))
            jv.add(jp)
        return jv

    def bigram_model(self, text_col, top_k, top_b):
        """Train a bounded bigram LM: ([("w1 w2", lp_micro)],
        [(token, lp_micro)], oov_lp_micro) — conditional micro-nat
        logprobs over the top_b adjacent pairs plus the top_k unigram
        vocab."""
        jm = _api(self).bigramModel(self._jdf, text_col, int(top_k),
                                    int(top_b))
        bi = [(p[0], p[1]) for p in jm[0]]
        uni = [(p[0], p[1]) for p in jm[1]]
        return bi, uni, jm[2]

    def bigram_score(self, text_col, bi_model, uni_model, backoff_lp,
                     oov_lp):
        """Append ``lp_micro``: the document's bigram LM score with
        stupid-backoff to the unigram model, in integer micro-nats."""
        return self._with(_api(self).bigramScore(
            self._jdf, text_col, self._jlp(bi_model), self._jlp(uni_model),
            int(backoff_lp), int(oov_lp)))

    @staticmethod
    def stupid_backoff_lp(spark):
        """The standard stupid-backoff discount round(ln(0.4)*1e6)."""
        return spark._jvm.graft.python.PyApi.stupidBackoffLp()

    def pii_redact(self, text_col):
        """Replace emails / IPv4s / phone numbers in ``text_col`` with
        <EMAIL> / <IP> / <PHONE> tokens (portable regexes, one scan)."""
        return self._with(_api(self).piiRedact(self._jdf, text_col))

    def pii_counts(self, text_col):
        """Append n_emails / n_ips / n_phones match counts."""
        return self._with(_api(self).piiCounts(self._jdf, text_col))

    def with_url_parts_psl(self, url_col, suffixes):
        """with_url_parts with the registrable domain resolved against a
        caller-supplied public-suffix set (e.g. a subset of the Mozilla
        public suffix list: ["co.uk", "ne.jp", "gob.mx", ...]): the
        longest listed label-boundary tail keeps one extra label; unlisted
        TLDs fall back to the last two labels."""
        return self._with(_api(self).withUrlPartsPsl(
            self._jdf, url_col, _jlist(self.sparkSession, list(suffixes))))

    def with_url_parts(self, url_col):
        """Append url_host (lowercased authority, no userinfo/port),
        url_domain (heuristic registrable domain) and url_norm (lowercase,
        fragment + trailing-slash stripped) — one scan."""
        return self._with(_api(self).withUrlParts(self._jdf, url_col))

    def dedup_by_url(self, id_col, url_col):
        """Keep the smallest id per normalized URL (same-page dedup)."""
        return self._with(_api(self).dedupByUrl(self._jdf, id_col, url_col))

    def cap_per_domain(self, id_col, url_col, n, seed=42):
        """Cap each registrable domain at n deterministic smallest-hash
        rows (two-pass threshold selection; hot domains never serialize
        through one task)."""
        return self._with(_api(self).capPerDomain(
            self._jdf, id_col, url_col, n, seed))

    def temperature_rates(self, strata_col, alpha, target_rows):
        """Temperature-flattened per-stratum sampling rates (share ~
        n^alpha, alpha in {1.0, 0.5, 0.25}) as a dict for
        :meth:`sample_by_rates`."""
        jr = _api(self).temperatureRates(
            self._jdf, strata_col, float(alpha), int(target_rows))
        return {row[0]: float(row[1]) for row in jr}

    def select_top_by_budget(self, id_col, tokens_col, score_col, budget):
        """Fill a token budget with the best-scored rows: keep exactly the
        greedy prefix of the (score desc, id asc) order whose running
        token total fits ``budget``. Range-refinement aggregations, never
        a global corpus sort."""
        return self._with(_api(self).selectTopByBudget(
            self._jdf, id_col, tokens_col, score_col, budget))

    def assign_splits(self, id_col, splits, seed=42):
        """Deterministic train/validation/test assignment: appends a
        ``split`` column. ``splits`` is an ordered list of (name, fraction)
        pairs summing to 1. A row's split depends only on (id, seed) — it
        never moves when the corpus grows."""
        s = self.sparkSession
        names = _jlist(s, [n for n, _ in splits])
        fracs = s._jvm.java.util.ArrayList()
        for _, f in splits:
            fracs.add(float(f))
        return self._with(_api(self).assignSplits(
            self._jdf, id_col, names, fracs, seed))

    def oov_counts(self, text_col, vocab):
        """Append n_tokens / n_oov / oov_rate against a fixed vocabulary
        (single kernel scan; vocabulary = broadcast model parameters, e.g.
        ``top_k_tokens(...)`` collected)."""
        return self._with(_api(self).oovCounts(
            self._jdf, text_col, _jlist(self.sparkSession, list(vocab))))

    def pq_train(self, id_col, vec_col, m, k, iters):
        """Deterministic product-quantization codebooks (m subspaces × k
        cells each) as a list of lists of lists — pass to pq_encode /
        pq_topk."""
        jb = _api(self).pqTrain(self._jdf, id_col, vec_col, m, k, iters)
        return [[[float(v) for v in c] for c in b] for b in jb]

    def _jbooks(self, codebooks):
        jvm = self.sparkSession._jvm
        jb = jvm.java.util.ArrayList()
        for b in codebooks:
            jb2 = jvm.java.util.ArrayList()
            for c in b:
                jb3 = jvm.java.util.ArrayList()
                for v in c:
                    jb3.add(float(v))
                jb2.add(jb3)
            jb.add(jb2)
        return jb

    def pq_encode(self, id_col, vec_col, codebooks):
        """PQ compression: (id, codes) — m small codes per vector, the
        storable ~32x-smaller form of the corpus for ANN at scale."""
        return self._with(_api(self).pqEncode(
            self._jdf, id_col, vec_col, self._jbooks(codebooks)))

    def pq_topk(self, queries, id_col, vec_col, codebooks, k):
        """Asymmetric top-k over the PQ-compressed corpus (self): exact
        query vectors ranked against codebook reconstructions."""
        return self._with(_api(self).pqTopK(
            queries._jdf, self._jdf, id_col, vec_col,
            self._jbooks(codebooks), k))

    def pq_topk_encoded(self, queries, id_col, vec_col, codebooks, k):
        """pq_topk over an already-encoded (id, codes) corpus (self) — the
        stored-codes search path: the scan reads m codes per vector."""
        return self._with(_api(self).pqTopKEncoded(
            queries._jdf, self._jdf, id_col, vec_col,
            self._jbooks(codebooks), k))

    def ivf_pq_topk(self, queries, id_col, vec_col, coarse, codebooks, k,
                    nprobe=2):
        """IVF-PQ top-k over the corpus (self): coarse cells narrow the
        candidates, PQ codes compress every candidate read — the
        billion-scale ANN layout."""
        return self._with(_api(self).ivfPqTopK(
            queries._jdf, self._jdf, id_col, vec_col,
            self._jcentroids(coarse), self._jbooks(codebooks), k, nprobe))

    def ivf_pq_encode(self, id_col, vec_col, coarse, codebooks):
        """Encode the corpus (self) to the stored (id, cell, codes) IVF-PQ
        index layout — one narrow scan; the frame ivf_pq_topk_encoded
        searches."""
        return self._with(_api(self).ivfPqEncode(
            self._jdf, id_col, vec_col,
            self._jcentroids(coarse), self._jbooks(codebooks)))

    def ivf_pq_topk_encoded(self, queries, id_col, vec_col, codebooks, k,
                            coarse, nprobe=2, index_id_col="id",
                            index_cell_col="cell", index_codes_col="codes"):
        """IVF-PQ top-k over the STORED (id, cell, codes) index (self) —
        the search path that never reads a raw corpus vector: candidates
        are routed by coarse cell and ranked from m codes each.
        ``index_*_col`` name the stored columns when they differ from the
        ivf_pq_encode defaults."""
        return self._with(_api(self).ivfPqTopKEncoded(
            queries._jdf, self._jdf, id_col, vec_col,
            self._jbooks(codebooks), k, nprobe, self._jcentroids(coarse),
            index_id_col, index_cell_col, index_codes_col))

    def kmeans_assign(self, id_col, vec_col, k, iters):
        """Deterministic quantized k-means: (id, cell) assignments."""
        return self._with(_api(self).kmeansAssign(
            self._jdf, id_col, vec_col, k, iters))

    def kmeans_centroids(self, id_col, vec_col, k, iters):
        """Deterministic quantized k-means: trained centroids as a list of
        lists, ready to pass to ivf_topk / cosine_dup_pairs."""
        jcs = _api(self).kmeansCentroids(self._jdf, id_col, vec_col, k, iters)
        return [[float(v) for v in c] for c in jcs]

    def _jcentroids(self, centroids):
        jl = self.sparkSession._jvm.java.util.ArrayList()
        for c in centroids:
            inner = self.sparkSession._jvm.java.util.ArrayList()
            for v in c:
                inner.add(float(v))
            jl.add(inner)
        return jl

    def brute_force_topk(self, queries, id_col, vec_col, k):
        """Exact cosine top-k: self is the corpus, the (small) query frame
        is broadcast. Output (q_id, n_id, rank, cosine)."""
        return self._with(_api(self).bruteForceTopK(
            queries._jdf, self._jdf, id_col, vec_col, k))

    def ivf_topk(self, queries, id_col, vec_col, centroids, k, nprobe=2):
        """IVF-style ANN: self is the corpus, queries probe nprobe cells."""
        return self._with(_api(self).ivfTopK(
            queries._jdf, self._jdf, id_col, vec_col,
            self._jcentroids(centroids), k, nprobe))

    def cosine_dup_pairs(self, id_col, vec_col, centroids, threshold,
                         nprobe=2):
        """Embedding-cosine near-duplicate pairs via centroid cells."""
        return self._with(_api(self).cosineDupPairs(
            self._jdf, id_col, vec_col, self._jcentroids(centroids),
            threshold, nprobe))

    # ---------------------------------------------------------- streaming

    def summarize_tumbling(self, summarizer, window_duration,
                           watermark_delay="0 seconds", key=None):
        """Event-time tumbling-window summarize (works on readStream frames)."""
        return self._with(_api(self).summarizeTumbling(
            self._jdf, summarizer._jsum(self.sparkSession), window_duration,
            watermark_delay, _jlist(self.sparkSession, key)))

    def summarize_sliding(self, summarizer, window_duration, slide_duration,
                          watermark_delay="0 seconds", key=None):
        return self._with(_api(self).summarizeSliding(
            self._jdf, summarizer._jsum(self.sparkSession), window_duration,
            slide_duration, watermark_delay, _jlist(self.sparkSession, key)))

    def summarize_sessions(self, summarizer, gap_duration,
                           watermark_delay="0 seconds", key=None):
        return self._with(_api(self).summarizeSessions(
            self._jdf, summarizer._jsum(self.sparkSession), gap_duration,
            watermark_delay, _jlist(self.sparkSession, key)))

    def summarize_intervals_stream(self, clock_nanos, summarizer,
                                   watermark_delay="0 seconds", key=None,
                                   inclusion="begin", rounding="end"):
        """Streaming summarize_intervals over an ARBITRARY clock (list of
        long nanos ticks) — same inclusion/rounding matrix as batch; see
        the Scala scaladoc for the watermark-vs-stamp lateness note."""
        jl = self.sparkSession._jvm.java.util.ArrayList()
        for t in clock_nanos:
            jl.add(int(t))
        return self._with(_api(self).summarizeIntervalsStream(
            self._jdf, jl, summarizer._jsum(self.sparkSession),
            watermark_delay, _jlist(self.sparkSession, key), inclusion,
            rounding))

    def ewma_stateful(self, col, key, alpha=0.05, duration_per_period="1d",
                      convention="legacy", watermark_delay="0 seconds",
                      state_timeout="30 days"):
        """Cross-batch running EWMA via flatMapGroupsWithState.
        ``key`` is a list of column names (same as the batch ops)."""
        return self._with(_api(self).ewmaStateful(
            self._jdf, col, _jlist(self.sparkSession, list(key)), alpha,
            duration_per_period, convention, watermark_delay, state_timeout))

    def dedup_exact_stream(self, key_cols, watermark_delay):
        """Streaming exact dedup with watermark-bounded state."""
        return self._with(_api(self).dedupExactStream(
            self._jdf, _jlist(self.sparkSession, list(key_cols)),
            watermark_delay))

    def left_join_stream(self, right, tolerance, key,
                         watermark_delay="0 seconds",
                         state_timeout="30 days"):
        """Streaming as-of left join with watermark-final semantics.
        ``key`` is a list of column names (same as the batch ops)."""
        return self._with(_api(self).leftJoinStream(
            self._jdf, right._jdf, tolerance,
            _jlist(self.sparkSession, list(key)), watermark_delay,
            state_timeout))

    def future_left_join_stream(self, right, tolerance, key,
                                watermark_delay="0 seconds",
                                state_timeout="30 days",
                                strict_lookahead=False):
        """Streaming FORWARD as-of join: earliest right row in
        [t, t+tolerance] ((t, t+tolerance] with ``strict_lookahead``),
        finalized once the watermark passes t + tolerance."""
        return self._with(_api(self).futureLeftJoinStream(
            self._jdf, right._jdf, tolerance,
            _jlist(self.sparkSession, list(key)), watermark_delay,
            state_timeout, strict_lookahead))

    # --------------------------------------------------- partitioned store

    def write_time_partitioned(self, path, granularity="1d", mode="error"):
        """Write as parquet partitioned into ``time_bucket=N`` directories
        (N = floor(time / granularity)) so ranged reads prune whole
        directories. Read back with :meth:`read_time_partitioned`."""
        _api(self).writeTimePartitioned(self._jdf, path, granularity, mode)

    def write_time_partitioned_stream(self, path, granularity, checkpoint):
        """Streaming append into the same bucket layout (this frame must be
        a ``readStream`` frame). Returns the started StreamingQuery."""
        from pyspark.sql.streaming import StreamingQuery
        return StreamingQuery(_api(self).writeTimePartitionedStream(
            self._jdf, path, granularity, checkpoint))

    @classmethod
    def read_time_partitioned(cls, spark, path, granularity=None,
                              columns=None, begin_nanos=None, end_nanos=None):
        """Read a :meth:`write_time_partitioned` layout with directory-level
        [begin, end) pruning. ``granularity`` defaults to the store's
        persisted metadata; an explicit mismatch fails loudly."""
        api = spark._jvm.graft.python.PyApi
        jdf = api.fromTimePartitioned(
            spark._jsparkSession, path, granularity,
            _jlist(spark, list(columns or [])), begin_nanos, end_nanos)
        return _wrap(jdf, spark)


def lsh_planes(spark, bands, rows_per_band, dim, seed=42):
    """Seeded deterministic sign-LSH hyperplanes as a list of
    ``bands * rows_per_band`` lists of ``dim`` floats — pass to
    :meth:`TimeSeriesDataFrame.sign_lsh_dup_pairs`. Same splitmix-derived
    values as the Scala side, so plans are reproducible across bindings."""
    jps = spark._jvm.graft.python.PyApi.lshPlanes(
        bands, rows_per_band, dim, seed)
    return [[float(v) for v in p] for p in jps]
