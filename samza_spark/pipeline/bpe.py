"""Distributed BPE vocabulary learning and tokenization.

The public algorithm (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units"; the GPT-2 tokenizer trains the same
way): collapse the corpus to a word-frequency table, then repeatedly
(1) count adjacent symbol pairs weighted by word frequency, (2) merge
the most frequent pair everywhere. Only step 0 touches the corpus; the
loop runs over the aggregated word table, which is vocabulary-sized
(~millions of rows at 100 TB) — exactly why BPE training scales: the
100 TB corpus is read ONCE for the word count, and each merge iteration
is a small map + aggregate over the word table.

Spark-first re-expression:

- the word table is one groupBy shuffle over the tokenized corpus;
- each iteration's pair count is one map-side explode + one small
  aggregate; the argmax is a ``LIMIT 1`` collected to the driver (one
  row per iteration — the only driver traffic, and inherently so: the
  chosen merge is global sequential state);
- applying a merge is a map-only string ``replace`` over the word
  table: words are stored as DOUBLE-separator-joined symbol strings
  (``⟂⟂a⟂⟂b⟂⟂``), and replacing ``⟂l⟂⟂r⟂`` with ``⟂lr⟂`` implements
  the exact greedy left-to-right non-overlapping BPE merge — each match
  consumes one separator from each boundary and leaves the other, so
  consecutive merge sites ("a a a a" with merge (a,a)) all fire in one
  pass, while partial-symbol matches ("a bc" with merge (a,b)) cannot.
  This keeps both learning and tokenization in pure string built-ins —
  no UDF, no regex (and therefore no RE2-vs-Java lookahead divergence),
  and a DuckDB oracle replays every merge decision by unrolling the
  loop into chained CTEs;
- lineage is truncated with ``localCheckpoint`` every few iterations so
  n_merges chained ``replace`` expressions never build an unbounded
  plan.

Tokenizing a corpus with a learned merge list is a single map-only
projection: the n_merges ``replace`` calls compose into one expression
per document — the 100 TB shape (no shuffle, no state, no Python).

Tie-breaking is fully deterministic: (pair count DESC, left ASC, right
ASC) with binary string ordering.

Reference anchor: the word-count + iterate-on-aggregated-state shape is
the reference's partitionBy + aggregate + bootstrap-table pattern
(samza-api/.../operators/MessageStream.java:50; bootstrap streams in
samza-core); BPE training is the training-pipeline capability built on
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from samza_spark.pipeline.text import normalized

SEP = "\x1f"  # ASCII unit separator, stripped from input during normalization


def _clean_words(text_col: str, eow: "str | None") -> "F.Column":
    """Normalized, SEP/eow-stripped word array for a document.

    U+001F is not regex ``\\s``, so :func:`normalized` preserves it — and
    a web corpus CAN contain stray C0 control chars. Any SEP (or eow
    marker) surviving into a word would corrupt the double-separator
    symbol encoding (wrong merges/tokens, silently), so both are deleted
    up front with ``translate`` (plain char removal, no regex escaping
    hazards for arbitrary marker chars)."""
    cleaned = F.translate(
        normalized(F.coalesce(F.col(text_col), F.lit(""))), SEP + (eow or ""), ""
    )
    return F.filter(F.split(cleaned, " "), lambda x: x != "")


def _word_table(df: DataFrame, text_col: str, eow: "str | None" = None) -> DataFrame:
    """(word, freq, rep) — the corpus collapsed to word frequencies, with
    each word exploded into its double-separator symbol string (initial
    symbols = characters, plus the optional end-of-word marker symbol —
    the Sennrich '</w>' convention, which lets merges distinguish
    word-final from word-internal contexts)."""
    toks = _clean_words(text_col, eow)
    # '⟂⟂' + every char followed by '⟂⟂' == '⟂⟂c1⟂⟂c2⟂⟂…'
    rep = F.concat(
        F.lit(SEP + SEP), F.regexp_replace(F.col("word"), "(.)", "$1" + SEP + SEP)
    )
    if eow:
        rep = F.concat(rep, F.lit(eow + SEP + SEP))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("rep", rep)
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, cnt) adjacent-symbol pair counts weighted by word
    frequency. Overlapping occurrences all count ('aaa' contributes
    (a,a) twice), matching the reference algorithm."""
    syms = F.filter(F.split(F.col("rep"), SEP + SEP), lambda x: x != "")
    pairs = F.expr(
        "transform(if(size(__syms) >= 2, sequence(1, size(__syms) - 1), array()), "
        "i -> struct(__syms[i - 1] AS l, __syms[i] AS r))"
    )
    return (
        words.select("freq", syms.alias("__syms"))
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("cnt"))
    )


def _apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Map-only greedy merge of (left, right) in every word's rep."""
    return words.withColumn(
        "rep",
        F.replace(
            F.col("rep"),
            F.lit(SEP + left + SEP + SEP + right + SEP),
            F.lit(SEP + left + right + SEP),
        ),
    )


def _greedy_merge_syms(syms: "list[str]", l: str, r: str) -> "list[str]":
    """Greedy left-to-right non-overlapping merge of (l, r) in a symbol
    list — the exact semantics of the double-separator string ``replace``
    (equivalence property-tested in tests/test_property.py)."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_bpe_driver(
    word_freqs: "list[tuple[str, int]]",
    budget: int,
    min_count: int,
    eow: "str | None",
) -> "list[tuple[int, str, str, str, int]]":
    """In-memory merge loop over the collected word-frequency table, with
    incrementally maintained pair counts + a pair→word inverted index
    (the structure of Sennrich et al. 2016's public learn_bpe). Produces
    bit-identical output to the distributed loop: overlapping adjacent
    pairs all count, argmax tie-break is (cnt DESC, left ASC, right ASC)
    — Python's code-point string order equals Spark's UTF8String binary
    order, since UTF-8 byte order preserves code-point order."""
    from collections import defaultdict

    vocab: list[list] = []
    counts: "defaultdict[tuple[str, str], int]" = defaultdict(int)
    where: "defaultdict[tuple[str, str], set[int]]" = defaultdict(set)
    for word, freq in word_freqs:
        syms = list(word) + ([eow] if eow else [])
        idx = len(vocab)
        vocab.append([syms, freq])
        for p in zip(syms, syms[1:]):
            counts[p] += freq
            where[p].add(idx)

    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, budget + 1):
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((step, l, r, l + r, int(cnt)))
        for idx in list(where[(l, r)]):
            syms, freq = vocab[idx]
            for p in zip(syms, syms[1:]):
                counts[p] -= freq
                if counts[p] <= 0:
                    del counts[p]
                where[p].discard(idx)
            new = _greedy_merge_syms(syms, l, r)
            vocab[idx][0] = new
            for p in zip(new, new[1:]):
                counts[p] += freq
                where[p].add(idx)
    return merges


def learn_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_count: int = 2,
    checkpoint_every: int = 4,
    eow: "str | None" = None,
    target_vocab: int | None = None,
    driver_local_threshold: int = 2_000_000,
) -> "list[tuple[int, str, str, str, int]]":
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table ``[(step, left, right, merged, pair_count), ...]`` in learned
    order; stops early when the best remaining pair occurs fewer than
    ``min_count`` times.

    The corpus-scale work — the word-frequency aggregation — is always
    distributed and happens ONCE. The merge loop then runs over the
    word table, which is vocabulary-sized (unique words), and the word
    count picks where:

    - at most ``driver_local_threshold`` words (the common case: even a
      100 TB web corpus has ~10⁷ unique normalized words): collect the
      (word, freq) table and run the loop in memory with
      incrementally-maintained pair counts — zero
      Spark jobs per merge, so a 32k-vocab training run costs one
      distributed aggregation + seconds of driver CPU instead of ~2
      serialized Spark jobs per merge (~60k+ job launches of pure
      scheduler latency).
    - above the threshold: each
      iteration is a vocabulary-sized pair count + ``LIMIT 1`` argmax
      (one row to the driver — the sequential decision that defines the
      algorithm) + a map-only ``replace``.

    Both paths produce bit-identical merge tables (equivalence is
    property- and corpus-tested); tie-breaking is (count DESC, left ASC,
    right ASC) in binary string order.

    ``eow`` appends an end-of-word marker symbol to every word (pass a
    character that cannot appear in the text, e.g. ``"\x17"``) so the
    model learns word-final merges separately — the Sennrich ``</w>``
    convention. Tokenization must use the same marker. (SEP and the
    marker are stripped from input text during normalization — see
    :func:`_clean_words`.)

    ``target_vocab`` bounds the final vocabulary: each merge adds one
    symbol to the initial alphabet (distinct characters + the marker),
    so learning stops once ``alphabet + merges`` reaches the target —
    the standard way tokenizer training is sized (e.g. "32k vocab").
    """
    words = _word_table(df, text_col, eow=eow).localCheckpoint()
    n_words = words.count()

    if n_words <= driver_local_threshold:
        word_freqs = [
            (r["word"], int(r["freq"]))
            for r in words.select("word", "freq").collect()
        ]
        budget = n_merges
        if target_vocab is not None:
            alphabet = set().union(*(set(w) for w, _ in word_freqs)) if word_freqs else set()
            if eow:
                alphabet.add(eow)
            budget = min(n_merges, max(0, target_vocab - len(alphabet)))
        return _learn_bpe_driver(word_freqs, budget, min_count, eow)

    budget = n_merges
    if target_vocab is not None:
        alphabet = (
            words.select(
                F.explode(F.filter(F.split("rep", SEP + SEP), lambda x: x != "")).alias("s")
            )
            .distinct()
            .count()
        )
        budget = min(n_merges, max(0, target_vocab - alphabet))
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, budget + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((step, l, r, l + r, cnt))
        words = _apply_merge(words, l, r)
        if step % checkpoint_every == 0:
            words = words.localCheckpoint()
    return merges


def bpe_merge_table(
    spark: SparkSession, merges: "list[tuple[int, str, str, str, int]]"
) -> DataFrame:
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count bigint"
    )


def bpe_tokenize(
    df: DataFrame,
    merges: "list[tuple[int, str, str, str, int]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: "str | None" = None,
) -> DataFrame:
    """Tokenize every document with a learned merge list. Returns
    ``(id, n_words, n_bpe_tokens, bpe_text)`` where ``bpe_text`` joins
    the subword tokens with spaces.

    One map-only projection: per word, the n_merges ``replace`` calls
    compose into a single expression — no shuffle, no state, the plan a
    100 TB tokenization pass needs. (Word-level dedup before applying
    merges — tokenize distinct words, then re-join — is a further
    optimization when the type/token ratio is low; at the typical
    web-corpus ratio the plain map wins by skipping the shuffle.)
    """
    toks = _clean_words(text_col, eow)

    def word_rep(w):
        rep = F.concat(F.lit(SEP + SEP), F.regexp_replace(w, "(.)", "$1" + SEP + SEP))
        if eow:
            rep = F.concat(rep, F.lit(eow + SEP + SEP))
        for _, l, r, _, _ in merges:
            rep = F.replace(
                rep,
                F.lit(SEP + l + SEP + SEP + r + SEP),
                F.lit(SEP + l + r + SEP),
            )
        return rep

    # per word: '⟂⟂s1⟂⟂s2⟂⟂' -> 's1 s2'; documents join words with spaces
    reps = F.transform(toks, lambda w: word_rep(w))
    sym_lists = F.transform(
        reps, lambda rp: F.filter(F.split(rp, SEP + SEP), lambda x: x != "")
    )
    return df.select(
        F.col(id_col).alias(id_col),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            sym_lists, F.lit(0), lambda acc, s: acc + F.size(s), lambda acc: acc
        )
        .cast("long")
        .alias("n_bpe_tokens"),
        F.array_join(F.transform(sym_lists, lambda s: F.array_join(s, " ")), " ").alias(
            "bpe_text"
        ),
    )


def save_merges(
    spark: SparkSession, merges: "list[tuple[int, str, str, str, int]]", path: str
) -> None:
    """Persist a learned merge table as parquet — train once, tokenize
    everywhere (the artifact a 100 TB tokenization job broadcasts)."""
    bpe_merge_table(spark, merges).write.mode("overwrite").parquet(path)


def load_merges(
    spark: SparkSession, path: str
) -> "list[tuple[int, str, str, str, int]]":
    """Load a persisted merge table in learned (step) order."""
    rows = spark.read.parquet(path).orderBy("step").collect()
    return [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in rows
    ]
