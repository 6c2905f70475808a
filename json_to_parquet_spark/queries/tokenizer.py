"""Tokenizer-training operators — the distributed half of building a BPE
vocabulary over a training corpus, plus temperature-based language
rebalancing of the corpus itself.

The reference (`/root/reference/`) is a schema-driven NDJSON→Parquet
converter with no text surface at all; these operators are part of the
driver-mandated LLM-pipeline extension (repo:BASELINE.json north_star,
SURVEY §2.C X4). x16 counts tokens with a FIXED BPE-ish regex; x46/x47
build and apply a unigram vocab. x101 closes the remaining gap: it
LEARNS merge rules from corpus statistics — the actual BPE training
inner loop (Sennrich et al. 2016) — as a distributed word count feeding
a centralized merge loop.

Cross-engine determinism (`helpers.py` rules): every count is integer,
the argmax tiebreak is total (count desc, then pair lexicographic —
UTF-8 byte order equals codepoint order, so Python, Java, and DuckDB
compare identically), and the pair-merge is leftmost-non-overlapping in
all three (the oracle's wrapped-string `replace` form verified:
' a  b  a  b ' → ' ab  ab ').

Scale notes (100 TB posture):
- x101 touches the corpus ONCE (word count: one token-keyed shuffle,
  open vocabulary, partial aggregation map-side). The merge loop then
  runs centralized over the aggregated frequency table — vocab-sized
  (millions of rows / ~100s of MB at web scale where the corpus is
  billions of documents) — in one Arrow-batched task, because the loop
  is strictly sequential and a real tokenizer's ~50k rules cannot be
  50k Spark jobs. Word-count-distributed + merge-loop-centralized is
  exactly how production BPE trainers split the work.
- x106's per-language stats frame is label-cardinality-sized; the only
  corpus-sized operations are one group-count and one WindowGroupLimit
  selection (top-quota per language retained map-side before the
  shuffle, same shape as x72).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import QuerySpec, register
from .store import build_once, store_token

# --- x101: BPE merge-rule training -------------------------------------------
BPE_MERGES = 16  # learned merge rules (VERDICT r4 ask #7: ≥16)


def _bpe_merge_rules(vocab: dict) -> list[dict]:
    """The sequential merge loop over a symbolized word-frequency map:
    BPE_MERGES rounds of (argmax pair by count desc then (w1, w2)
    lexicographic; leftmost non-overlapping merge).  Pure Python over
    the vocab-sized table — shared by x101 (full train) and x252
    (incremental retrain), so the two can never diverge on tiebreak or
    merge semantics."""
    rows: list[dict] = []
    for it in range(1, BPE_MERGES + 1):
        pc: dict[tuple[str, str], int] = {}
        for s, c in vocab.items():
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break  # vocabulary fully merged (oracle: empty b{tag})
        top = max(pc.values())
        w1, w2 = min(k for k, v in pc.items() if v == top)
        merged = w1 + w2
        rows.append(
            {"iter": it, "w1": w1, "w2": w2, "merged": merged,
             "pair_cnt": top}
        )
        new_vocab: dict[tuple[str, ...], int] = {}
        for s, c in vocab.items():
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == w1 and s[i + 1] == w2:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return rows


def x101_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_MERGES byte-pair-encoding merge rules from the
    corpus: iteratively find the most frequent adjacent symbol pair
    (weighted by word frequency, ties broken lexicographically) and merge
    it everywhere. Returns one row per learned rule: (iter, w1, w2,
    merged, pair_cnt).

    Two-phase distributed shape (the production BPE-trainer layout):
    1. WORD COUNT — the only corpus-sized work — runs as one token-keyed
       Spark aggregation (open vocabulary, map-side partial agg). At
       100 TB this is the whole cost; the result is the distinct-word
       frequency table, orders of magnitude smaller than the corpus.
    2. MERGE LOOP runs centralized over that aggregated table inside a
       single Arrow-batched ``mapInPandas`` task. The loop is inherently
       sequential (merge i+1's counts depend on merge i), so expressing
       it as per-iteration Spark jobs buys no parallelism and pays a
       full job + plan-analysis round-trip per rule: the round-4 pure-
       plan unroll measured 1.0 s at 3 rules and 4.6-7.5 s at 16 even
       with localCheckpoint lineage truncation, while this layout runs
       16 rules in 0.5 s — and a real tokenizer's 50k rules would mean
       50k sequential Spark jobs, which no cluster schedule survives.
       Centralizing the vocab-sized loop (a few hundred MB at web
       scale) over the distributed count is exactly how production BPE
       trainers split the work.

    Determinism contract (shared with the unrolled DuckDB oracle): pair
    counts weighted by word frequency; argmax tiebreak = count desc,
    then (w1, w2) lexicographic (UTF-8 order == codepoint order, so
    Python/Java/DuckDB agree); merge = leftmost non-overlapping scan,
    the same result as the oracle's wrapped-string ``replace``."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def train(batches):
        import pandas as pd

        # Symbolization mirrors the oracle's regexp_extract_all(word,'.')
        # — '.' skips line terminators in both Java and RE2, and split()
        # on ' ' never puts one inside a word for this corpus.
        vocab: dict[tuple[str, ...], int] = {}
        for pdf in batches:
            for w, c in zip(pdf["word"], pdf["cnt"]):
                key = tuple(w)
                vocab[key] = vocab.get(key, 0) + int(c)

        yield pd.DataFrame(
            _bpe_merge_rules(vocab),
            columns=["iter", "w1", "w2", "merged", "pair_cnt"],
        )

    # repartition(1), NOT coalesce(1): coalesce would collapse the
    # corpus-sized word-count aggregation itself into one reducer;
    # repartition keeps the agg wide and moves only the (tiny) result
    # through a vocab-sized shuffle into the single merge-loop task.
    return (
        words.repartition(1)
        .mapInPandas(
            train, "iter long, w1 string, w2 string, merged string, pair_cnt long"
        )
        .orderBy("iter")
    )


def _x101_sql() -> str:
    """Unrolled DuckDB twin: identical word counts, identical pair
    extraction (x78's comprehension idiom), identical argmax tiebreak,
    identical replace-based merge.

    Every chained CTE is MATERIALIZED: each round's symbol frame is
    referenced twice (pair extraction + next round's rewrite), so letting
    the optimizer inline them doubles the subplan per round — 2^16
    documents scans at BPE_MERGES=16 (observed as an fd-exhaustion
    blowup). Materialization is also the semantic twin of the Spark
    side's localCheckpoint cadence."""

    def pair_cte(src: str, tag: str) -> str:
        return f"""
        t{tag} AS MATERIALIZED (
          SELECT cnt, string_split(trim(sym), '  ') AS t FROM {src}),
        p{tag} AS (
          SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
          FROM (
            SELECT cnt,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                       FOR i IN generate_series(1, len(t)-1)],
                       recursive := true)
            FROM t{tag} WHERE len(t) >= 2)
          GROUP BY w1, w2),
        b{tag} AS MATERIALIZED (
          SELECT w1, w2, pair_cnt FROM p{tag}
          ORDER BY pair_cnt DESC, w1, w2 LIMIT 1)"""

    ctes = ["""
        w0 AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word),
        s1 AS MATERIALIZED (
          SELECT cnt,
                 ' ' || array_to_string(regexp_extract_all(word, '.'), '  ')
                     || ' ' AS sym
          FROM w0)"""]
    for it in range(1, BPE_MERGES + 1):
        ctes.append(pair_cte(f"s{it}", str(it)))
        if it < BPE_MERGES:
            ctes.append(f"""
        s{it + 1} AS MATERIALIZED (
          SELECT s.cnt,
                 replace(s.sym, ' ' || b.w1 || '  ' || b.w2 || ' ',
                                ' ' || b.w1 || b.w2 || ' ') AS sym
          FROM s{it} s CROSS JOIN b{it} b)""")
    selects = "\n        UNION ALL ".join(
        f"SELECT CAST({it} AS BIGINT) AS iter, w1, w2, w1 || w2 AS merged, "
        f"pair_cnt FROM b{it}"
        for it in range(1, BPE_MERGES + 1)
    )
    return f"""
        WITH {",".join(ctes)}
        SELECT * FROM ({selects}) ORDER BY iter
        """


register(
    QuerySpec(
        "x101_bpe_train",
        x101_bpe_train,
        _x101_sql(),
        "learn the first BPE merge rules from corpus word frequencies",
    )
)


# --- x252: incremental BPE retrain --------------------------------------------
# Tokenizer maintenance under corpus growth — the x130 mergeable-stats
# economics applied to BPE training: word counts compose additively, so
# when an ingestion slice arrives (doc_id % BPE_CDC_MOD == 3, the
# GADD-style batch rule) the ONLY corpus-sized work is counting the
# slice's words; the base corpus's word-frequency table is a train-once
# GATE_DIR store and the vocab-sized merge loop replays over (base ⊎
# delta) in one Arrow task.  The output doubles as the rule-STABILITY
# audit a production tokenizer team actually reviews before swapping
# vocabularies: each retrained rule carries changed=1 iff it differs
# from the base-only rule at the same position (a changed merge early
# in the table invalidates every token id after it).
BPE_CDC_MOD = 4


def bpe_base_counts_path(spark: SparkSession, sf_dir: str) -> str:
    """Train-once store for the BASE corpus's word-frequency table —
    (word, cnt) over doc_id % BPE_CDC_MOD != 3.  Keyed on the rule
    constants + the DOCUMENTS fingerprint (the GATE_DIR cache-keying
    invariant; this store's source is text, not vectors)."""

    def build(d: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        base = docs.filter(F.col("doc_id") % BPE_CDC_MOD != 3)
        (
            base.select(
                F.explode(F.split(F.lower("text"), " ")).alias("word")
            )
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("overwrite")
            .parquet(d)
        )

    tok = store_token("bpeinc-v1", BPE_CDC_MOD)
    return build_once(sf_dir, "bpew", f"_{tok}", build, "documents")


def x252_bpe_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(iter, w1, w2, merged, pair_cnt, changed): the merge table
    retrained on (persisted base counts ⊎ the ingestion slice's
    counts), with changed=1 where the rule differs from the base-only
    table at the same iteration (or the base table ended early).
    Scale shapes: the slice word count is the only corpus-sized work
    (token-keyed map-side partial agg over the slice alone); the base
    table is a vocab-sized parquet scan; both merge loops run in ONE
    repartition(1) Arrow task over tagged counts (x101's layout — the
    loop is inherently sequential, and additivity of counts makes the
    incremental total EXACTLY the full-corpus count, which is what the
    oracle recomputes from scratch)."""
    return _bpe_cdc_stats(spark, sf_dir, _bpe_delta_words(spark, sf_dir))


def _bpe_delta_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt) over the ingestion slice — the only corpus-sized
    work the incremental trainer pays."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = docs.filter(F.col("doc_id") % BPE_CDC_MOD == 3)
    return (
        delta.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _tagged_counts(
    spark: SparkSession, sf_dir: str, delta_words: DataFrame
) -> DataFrame:
    """(word, cnt, src) — the persisted base word-frequency table union
    the slice's counts, each row tagged with its origin.  The shared
    input frame of every incremental-tokenizer operator (x252/x253/
    x256/x257): base ⊎ delta is EXACTLY the full-corpus count by
    additivity, and the src tag lets one Arrow task rebuild both the
    base-only and the full vocabularies."""
    base_words = spark.read.parquet(bpe_base_counts_path(spark, sf_dir))
    return base_words.select(
        "word", "cnt", F.lit("base").alias("src")
    ).unionAll(delta_words.select("word", "cnt", F.lit("delta").alias("src")))


def _split_vocabs(batches):
    """(base_vocab, full_vocab) symbol-tuple→count maps from tagged
    (word, cnt, src) Arrow batches — the shared head of every
    incremental-tokenizer Arrow task."""
    base_vocab: dict[tuple[str, ...], int] = {}
    full_vocab: dict[tuple[str, ...], int] = {}
    for pdf in batches:
        for w, c, s in zip(pdf["word"], pdf["cnt"], pdf["src"]):
            key = tuple(w)
            full_vocab[key] = full_vocab.get(key, 0) + int(c)
            if s == "base":
                base_vocab[key] = base_vocab.get(key, 0) + int(c)
    return base_vocab, full_vocab


def _bpe_cdc_stats(
    spark: SparkSession, sf_dir: str, delta_words: DataFrame
) -> DataFrame:
    """x252's tail over an arbitrary slice word-count frame: persisted
    base counts ⊎ delta counts → both merge loops in one Arrow task →
    the rule table with the changed flag.  Lets the streaming twin
    (x254) drain micro-batch count partials and retrain once."""
    tagged = _tagged_counts(spark, sf_dir, delta_words)

    def retrain(batches):
        import pandas as pd

        base_vocab, full_vocab = _split_vocabs(batches)
        full_rules = _bpe_merge_rules(full_vocab)
        base_rules = _bpe_merge_rules(base_vocab)
        rows = []
        for i, r in enumerate(full_rules):
            changed = int(
                i >= len(base_rules)
                or (base_rules[i]["w1"], base_rules[i]["w2"])
                != (r["w1"], r["w2"])
            )
            rows.append({**r, "changed": changed})
        yield pd.DataFrame(
            rows,
            columns=["iter", "w1", "w2", "merged", "pair_cnt", "changed"],
        )

    return (
        tagged.repartition(1)
        .mapInPandas(
            retrain,
            "iter long, w1 string, w2 string, merged string, "
            "pair_cnt long, changed long",
        )
        .orderBy("iter")
    )


def _x252_sql() -> str:
    """Two unrolled x101 chains — the FULL corpus (base ⊎ delta ==
    every document, by count additivity) and the BASE-only corpus —
    joined per iteration for the changed flag.  A base chain that ends
    early yields an empty bb{it}; LEFT JOIN ON TRUE turns that into
    changed=1, matching the Spark side's length check."""

    def pair_cte(src: str, tag: str) -> str:
        return f"""
        t{tag} AS MATERIALIZED (
          SELECT cnt, string_split(trim(sym), '  ') AS t FROM {src}),
        p{tag} AS (
          SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
          FROM (
            SELECT cnt,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                       FOR i IN generate_series(1, len(t)-1)],
                       recursive := true)
            FROM t{tag} WHERE len(t) >= 2)
          GROUP BY w1, w2),
        b{tag} AS MATERIALIZED (
          SELECT w1, w2, pair_cnt FROM p{tag}
          ORDER BY pair_cnt DESC, w1, w2 LIMIT 1)"""

    def chain(prefix: str, where: str) -> list[str]:
        ctes = [f"""
        w{prefix}0 AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents{where})
          WHERE word <> '' GROUP BY word),
        s{prefix}1 AS MATERIALIZED (
          SELECT cnt,
                 ' ' || array_to_string(regexp_extract_all(word, '.'), '  ')
                     || ' ' AS sym
          FROM w{prefix}0)"""]
        for it in range(1, BPE_MERGES + 1):
            ctes.append(pair_cte(f"s{prefix}{it}", f"{prefix}{it}"))
            if it < BPE_MERGES:
                ctes.append(f"""
        s{prefix}{it + 1} AS MATERIALIZED (
          SELECT s.cnt,
                 replace(s.sym, ' ' || b.w1 || '  ' || b.w2 || ' ',
                                ' ' || b.w1 || b.w2 || ' ') AS sym
          FROM s{prefix}{it} s CROSS JOIN b{prefix}{it} b)""")
        return ctes

    ctes = chain("f", "") + chain(
        "b", f" WHERE doc_id % {BPE_CDC_MOD} != 3"
    )
    selects = "\n        UNION ALL ".join(
        f"""SELECT CAST({it} AS BIGINT) AS iter, f.w1, f.w2,
               f.w1 || f.w2 AS merged, f.pair_cnt,
               CAST(CASE WHEN b.w1 IS NULL OR f.w1 != b.w1
                         OR f.w2 != b.w2 THEN 1 ELSE 0 END AS BIGINT)
                   AS changed
        FROM bf{it} f LEFT JOIN bb{it} b ON TRUE"""
        for it in range(1, BPE_MERGES + 1)
    )
    return f"""
        WITH {",".join(ctes)}
        SELECT * FROM ({selects}) ORDER BY iter
        """


register(
    QuerySpec(
        "x252_bpe_incremental",
        x252_bpe_incremental,
        _x252_sql(),
        "incremental BPE retrain: delta-only word counts + persisted base table, with the rule-stability audit",
    )
)


# --- x253: vocabulary-swap impact ---------------------------------------------
# x252 flags WHICH rules changed; this measures what the change BREAKS:
# the fraction of the corpus (distinct words, and token occurrences
# weighted by frequency) whose tokenization differs when the retrained
# merge table replaces the base one — the number that decides whether a
# vocabulary swap forces re-tokenizing stored training shards.  Both
# rule tables are applied to the SAME full word set (a word that only
# arrived with the slice still gets a base-rules tokenization — the old
# tokenizer would have handled it symbol-by-symbol), so the metric is a
# property of the RULE TABLES, not of corpus membership.


def _bpe_apply(sym: tuple, rules: list) -> tuple:
    """Apply a learned rule list to one symbolized word — the merge
    loop's own leftmost non-overlapping rewrite, factored so encoding
    uses byte-for-byte the same semantics training did."""
    for r in rules:
        w1, w2, merged = r["w1"], r["w2"], r["merged"]
        out = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == w1 and sym[i + 1] == w2:
                out.append(merged)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = tuple(out)
    return sym


def _swap_impact_from(
    spark: SparkSession, sf_dir: str, delta_words: DataFrame
) -> DataFrame:
    """x253's impact row over an arbitrary slice word-count frame —
    factored (identical Column expressions, same cross-engine path) so
    the streaming twin (x270) can drain micro-batch count partials and
    measure/decide once, the `_bpe_cdc_stats` pattern."""
    tagged = _tagged_counts(spark, sf_dir, delta_words)

    def impact(batches):
        import pandas as pd

        base_vocab, full_vocab = _split_vocabs(batches)
        full_rules = _bpe_merge_rules(dict(full_vocab))
        base_rules = _bpe_merge_rules(base_vocab)
        n_words = n_changed = occ_total = occ_changed = 0
        for sym, c in full_vocab.items():
            n_words += 1
            occ_total += c
            if _bpe_apply(sym, full_rules) != _bpe_apply(sym, base_rules):
                n_changed += 1
                occ_changed += c
        yield pd.DataFrame(
            [{
                "n_words": n_words,
                "n_changed": n_changed,
                "occ_total": occ_total,
                "occ_changed": occ_changed,
                # raw ratio: the HALF_UP round happens in the Column
                # layer below (F.round), keeping one rounding convention
                # repo-wide (ADVICE r10 — Python's built-in round is
                # half-even, unlike F.round/DuckDB ROUND)
                "frac_changed": occ_changed / occ_total,
            }],
            columns=[
                "n_words", "n_changed", "occ_total", "occ_changed",
                "frac_changed",
            ],
        )

    raw = tagged.repartition(1).mapInPandas(
        impact,
        "n_words long, n_changed long, occ_total long, occ_changed long, "
        "frac_changed double",
    )
    return raw.withColumn("frac_changed", F.round("frac_changed", 6))


def x253_bpe_swap_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_words, n_changed, occ_total, occ_changed,
    frac_changed) — distinct words / frequency-weighted occurrences
    whose final tokenization differs between the base-only and the
    retrained merge tables.  Scale shapes: the corpus-sized work is
    x252's (persisted base counts + slice-only counting); training both
    tables AND encoding every distinct word under each runs in ONE
    vocab-sized Arrow task (≤ 2·|vocab|·BPE_MERGES rule applications)."""
    return _swap_impact_from(
        spark, sf_dir, _bpe_delta_words(spark, sf_dir)
    )


def _sql_pair_cte(src: str, tag: str) -> str:
    """The per-iteration pair-count/argmax CTE triple (t/p/b{tag}) of the
    unrolled BPE oracle — shared by every chain builder below."""
    return f"""
        t{tag} AS MATERIALIZED (
          SELECT cnt, string_split(trim(sym), '  ') AS t FROM {src}),
        p{tag} AS (
          SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
          FROM (
            SELECT cnt,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                       FOR i IN generate_series(1, len(t)-1)],
                       recursive := true)
            FROM t{tag} WHERE len(t) >= 2)
          GROUP BY w1, w2),
        b{tag} AS MATERIALIZED (
          SELECT w1, w2, pair_cnt FROM p{tag}
          ORDER BY pair_cnt DESC, w1, w2 LIMIT 1)"""


def _sql_bpe_chain(prefix: str, where: str, carry_word: bool) -> list[str]:
    """Unrolled BPE train chain over ``documents{where}``: word count →
    symbolization → BPE_MERGES rounds of pair-argmax + rewrite.
    Rewrites LEFT JOIN the rule row (empty b{it} — an exhausted merge
    chain on a degenerate corpus — leaves symbols untouched, matching
    the Spark side's shortened rule list; ADVICE r10: a CROSS JOIN
    would empty the chain and zero the aggregates).  When
    ``carry_word`` the word key is threaded through and a final
    ``enc_{prefix}`` rewrite applies the LAST rule too (the per-word
    encoded lexicon); the ruleless chain omits it (dead weight)."""
    wcol = "word," if carry_word else ""
    wsel = "s.word," if carry_word else ""

    def rewrite(out: str, src: str, it: int) -> str:
        return f"""
        {out} AS MATERIALIZED (
          SELECT {wsel} s.cnt,
                 CASE WHEN b.w1 IS NULL THEN s.sym
                      ELSE replace(s.sym,
                                   ' ' || b.w1 || '  ' || b.w2 || ' ',
                                   ' ' || b.w1 || b.w2 || ' ')
                 END AS sym
          FROM {src} s LEFT JOIN b{prefix}{it} b ON TRUE)"""

    ctes = [f"""
        w{prefix}0 AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents{where})
          WHERE word <> '' GROUP BY word),
        s{prefix}1 AS MATERIALIZED (
          SELECT {wcol} cnt,
                 ' ' || array_to_string(regexp_extract_all(word, '.'), '  ')
                     || ' ' AS sym
          FROM w{prefix}0)"""]
    for it in range(1, BPE_MERGES + 1):
        ctes.append(_sql_pair_cte(f"s{prefix}{it}", f"{prefix}{it}"))
        if it < BPE_MERGES:
            ctes.append(rewrite(f"s{prefix}{it + 1}", f"s{prefix}{it}", it))
    if carry_word:
        ctes.append(
            rewrite(f"enc_{prefix}", f"s{prefix}{BPE_MERGES}", BPE_MERGES)
        )
    return ctes


def _sql_applied_chain() -> list[str]:
    """Base-rules-applied-to-FULL-words chain (a2..a{N+1}): rewrites
    only, reusing the base chain's bb{it} rules (LEFT JOIN: empty rule
    → unchanged sym).  a{BPE_MERGES+1} is the base-rules encoding of
    every full-corpus word — what the persisted base lexicon serves."""
    applied = []
    for it in range(1, BPE_MERGES + 1):
        src = "sf1" if it == 1 else f"a{it}"
        applied.append(f"""
        a{it + 1} AS MATERIALIZED (
          SELECT s.word, s.cnt,
                 CASE WHEN b.w1 IS NULL THEN s.sym
                      ELSE replace(s.sym,
                                   ' ' || b.w1 || '  ' || b.w2 || ' ',
                                   ' ' || b.w1 || b.w2 || ' ')
                 END AS sym
          FROM {src} s LEFT JOIN bb{it} b ON TRUE)""")
    return applied


def _x253_sql() -> str:
    """Three unrolled chains over the SAME carried word key: the full
    and base chains train the two rule tables (x252's), and a third
    rewrite chain applies the BASE rules to the FULL word set (LEFT
    JOIN + CASE so an early-exhausted base table leaves symbols
    untouched, matching the Spark side's shorter rule list)."""
    ctes = (
        _sql_bpe_chain("f", "", True)
        + _sql_bpe_chain("b", f" WHERE doc_id % {BPE_CDC_MOD} != 3", False)
        + _sql_applied_chain()
    )
    return f"""
        WITH {",".join(ctes)}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(CASE WHEN f.sym != a.sym THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_changed,
               CAST(SUM(f.cnt) AS BIGINT) AS occ_total,
               CAST(SUM(CASE WHEN f.sym != a.sym THEN f.cnt ELSE 0 END)
                    AS BIGINT) AS occ_changed,
               ROUND(CAST(SUM(CASE WHEN f.sym != a.sym
                              THEN f.cnt ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(f.cnt) AS DOUBLE), 6) AS frac_changed
        FROM enc_f f JOIN a{BPE_MERGES + 1} a USING (word)
        """


register(
    QuerySpec(
        "x253_bpe_swap_impact",
        x253_bpe_swap_impact,
        _x253_sql(),
        "vocabulary-swap impact: words and occurrences whose tokenization changes under the retrained merge table",
    )
)


# --- x256/x257: vocabulary-swap EXECUTION over the encoded-lexicon store ------
# x252 retrains the merge table and x253 measures what the swap breaks
# (13.8% of token occurrences at sf0.01); these EXECUTE the
# re-tokenization incrementally — the measure→decide→execute arrow that
# closed the quantizer (x228→x231→x235) and compaction (x224→x227)
# loops, applied to the tokenizer (VERDICT r10 ask #2).
#
# The incremental unit is the ENCODED LEXICON — the word→token-sequence
# table every production tokenizer memoizes (word-level encode caching
# is how HF/SentencePiece tokenizers amortize BPE cost) — persisted as
# a parquet layout partitioned by a deterministic md5 word bucket.
# Phase 1 writes every bucket under the BASE rules; when the retrained
# table lands, phase 2 rewrites ONLY the buckets containing a word
# whose encoding changed (dynamic partition overwrite, x227's
# machinery verbatim): cold buckets' files stay byte-identical
# (tests/test_round13_invariants.py), so swap I/O is proportional to
# the changed vocabulary, not the lexicon.  Corpus re-tokenization is
# then a word-keyed JOIN against the migrated lexicon — zero BPE work
# per document.
#
# Why word buckets and not document shards: this corpus has 31 distinct
# words, so ≥92% of documents contain a changed word (measured at
# sf0.001/sf0.01) and a doc-sharded store would have zero cold shards —
# the honest granularity for "rewrite only what changed" is the
# vocabulary.  x257 still reports n_docs_retok, the doc-shard rewrite
# the swap implies downstream (x253's occurrence fraction, materialized
# as a doc count).
RETOK_NBUCKETS = 8


def _word_bucket(col: "F.Column") -> "F.Column":
    """Deterministic cross-engine word bucket — x118's md5-prefix idiom
    (dedup.py): first 8 hex chars of md5 as an integer, mod NBUCKETS."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % RETOK_NBUCKETS
    )


SQL_WORD_BUCKET = (
    "CAST(('0x' || substring(md5({w}), 1, 8)) AS BIGINT) % "
    f"{RETOK_NBUCKETS}"
)


def _lexicon_frame(
    spark: SparkSession, sf_dir: str, which: str
) -> DataFrame:
    """Per-word encoded-lexicon frame from ONE vocab-sized Arrow task:
    ``which='base'`` → (word, toks, n_toks) of every BASE-corpus word
    under the base rules (what phase 1 persists); ``which='full'`` →
    (word, toks, n_toks, changed) of every FULL-corpus word under the
    retrained rules, changed=1 iff the base lexicon would serve a
    different (or no) encoding for it; ``which='applied'`` → (word,
    toks, n_toks) of every FULL-corpus word under the BASE rules —
    what an un-migrated store serves (stored encodings for base words
    plus the on-demand base-rules encode the old tokenizer would emit
    for a new word; x253's semantics, x267's hold branch).  Scale
    shapes: x252's — the corpus-sized work is the slice word count;
    training both rule tables and encoding every distinct word runs
    centralized over the vocab-sized counts (≤ 2·|vocab|·BPE_MERGES
    rule applications)."""
    tagged = _tagged_counts(spark, sf_dir, _bpe_delta_words(spark, sf_dir))
    full = which == "full"

    def encode(batches):
        import pandas as pd

        base_vocab, full_vocab = _split_vocabs(batches)
        base_rules = _bpe_merge_rules(dict(base_vocab))
        rows = []
        if full:
            full_rules = _bpe_merge_rules(dict(full_vocab))
            for sym in full_vocab:
                toks = _bpe_apply(sym, full_rules)
                changed = int(
                    sym not in base_vocab
                    or toks != _bpe_apply(sym, base_rules)
                )
                rows.append(
                    {"word": "".join(sym), "toks": " ".join(toks),
                     "n_toks": len(toks), "changed": changed}
                )
            cols = ["word", "toks", "n_toks", "changed"]
        else:
            vocab = full_vocab if which == "applied" else base_vocab
            for sym in vocab:
                toks = _bpe_apply(sym, base_rules)
                rows.append(
                    {"word": "".join(sym), "toks": " ".join(toks),
                     "n_toks": len(toks)}
                )
            cols = ["word", "toks", "n_toks"]
        yield pd.DataFrame(rows, columns=cols)

    schema = "word string, toks string, n_toks long" + (
        ", changed long" if full else ""
    )
    return tagged.repartition(1).mapInPandas(encode, schema)


def _retok_write_base(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Phase 1 — the base lexicon: every word bucket written with its
    base-rules encodings (the state the store is in when the retrained
    vocabulary lands)."""
    import os

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return
    (
        _lexicon_frame(spark, sf_dir, "base")
        .withColumn("bucket", _word_bucket(F.col("word")))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(dest)
    )


def _retok_migrate_hot(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Phase 2 — the INCREMENTAL vocabulary swap: only buckets holding
    ≥1 changed-encoding (or new) word are rewritten with the retrained
    encodings, via dynamic partition overwrite — the write carries rows
    for hot buckets ONLY, so Spark replaces exactly those partition
    directories and cold buckets' files stay physically byte-untouched.
    Cold buckets keep serving their base encodings, which EQUAL the
    retrained encodings for every word they hold (changed=0 is that
    equality) — the invariant the gate's hash match proves.  The hot
    list is a ≤NBUCKETS-row collect (bounded decision metadata).
    Rewrite rows re-derive from the count frames, never from ``dest``."""
    import os

    marker = os.path.join(dest, "_RETOK_MIGRATED")
    if os.path.exists(marker):
        return
    lex = _lexicon_frame(spark, sf_dir, "full").withColumn(
        "bucket", _word_bucket(F.col("word"))
    )
    hot = [
        r.bucket
        for r in lex.filter(F.col("changed") == 1)
        .select("bucket")
        .distinct()
        .collect()  # ≤ RETOK_NBUCKETS rows
    ]
    if hot:
        (
            lex.filter(F.col("bucket").isin(hot))
            .select("word", "toks", "n_toks", "bucket")
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(dest)
        )
    with open(marker, "w"):
        pass


def bpe_lexicon_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the post-swap encoded-lexicon
    layout: (word, toks, n_toks, bucket=partition).  Hot buckets carry
    the retrained encodings via an incremental phase-2 overwrite; cold
    buckets keep their phase-1 files byte-untouched.  The path embeds
    every constant the encoding depends on plus the documents
    fingerprint (the GATE_DIR cache-keying invariant)."""

    def build(d: str) -> None:
        _retok_write_base(spark, sf_dir, d)
        _retok_migrate_hot(spark, sf_dir, d)

    tok = store_token("retok-v1", BPE_MERGES, BPE_CDC_MOD, RETOK_NBUCKETS)
    return build_once(sf_dir, "bpelex", f"_{tok}", build, "documents")


def _retok_docs(
    spark: SparkSession, sf_dir: str, lex: DataFrame
) -> DataFrame:
    """Corpus re-tokenization through a (word, toks, n_toks) lexicon
    frame: (doc_id, n_tokens, tok_md5) where tok_md5 digests the
    document's full token sequence in word order.  One explode + one
    word-keyed join against the vocab-sized lexicon + one doc-keyed
    reassembly agg — zero BPE rule applications per document (shared
    by x256 and x267's policy-routed serve)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    joined = words.join(lex.select("word", "toks", "n_toks"), "word")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                        lambda s: s.toks,
                    ),
                    " ",
                )
            ).alias("tok_md5"),
        )
        .orderBy("doc_id")
    )


def x256_retok_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document re-tokenized THROUGH the migrated lexicon store:
    (doc_id, n_tokens, tok_md5) where tok_md5 digests the document's
    full token sequence.  The oracle re-tokenizes from scratch under
    the retrained rules and never sees the store — a hash match proves
    the incremental swap (hot buckets rewritten, cold buckets served
    verbatim) produced EXACTLY the full re-tokenization (x227's gate
    shape).  Scale shapes: ``_retok_docs`` — one explode + one
    word-keyed join against the vocab-sized lexicon + one doc-keyed
    reassembly agg."""
    lex = spark.read.parquet(bpe_lexicon_path(spark, sf_dir))
    return _retok_docs(spark, sf_dir, lex)


def _x256_sql() -> str:
    # Full re-tokenize from scratch: the full train chain (enc_f =
    # per-word retrained encodings) + per-doc reassembly in word order.
    # No store, no base chain, no incremental mechanics anywhere.
    ctes = _sql_bpe_chain("f", "", True)
    return f"""
        WITH {",".join(ctes)},
        wt AS (
          SELECT word,
                 array_to_string(string_split(trim(sym), '  '), ' ') AS toks,
                 CAST(len(string_split(trim(sym), '  ')) AS BIGINT)
                     AS n_toks
          FROM enc_f),
        docw AS (
          SELECT doc_id, pos, word FROM (
            SELECT doc_id,
                   generate_subscripts(ws, 1) AS pos,
                   unnest(ws) AS word
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents))
          WHERE word <> '')
        SELECT d.doc_id,
               CAST(SUM(w.n_toks) AS BIGINT) AS n_tokens,
               md5(string_agg(w.toks, ' ' ORDER BY d.pos)) AS tok_md5
        FROM docw d JOIN wt w USING (word)
        GROUP BY d.doc_id
        ORDER BY doc_id
        """


register(
    QuerySpec(
        "x256_retok_execute",
        x256_retok_execute,
        _x256_sql(),
        "vocabulary swap executed: corpus re-tokenized through the incrementally migrated lexicon == full re-tokenize",
    )
)


def x257_retok_io_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of exact integers — the swap's I/O ledger (x232's
    framing for the tokenizer): changed words, hot/cold bucket counts
    (over occupied buckets), lexicon rows rewritten vs preserved in
    place, the integer percentage of the lexicon a full rewrite would
    have copied needlessly, and the document-level blast radius
    (n_docs_retok = docs holding ≥1 changed word — the doc-shard
    rewrite x253's occurrence fraction implies downstream).  Scale
    shapes: one vocab-sized Arrow encode + ≤NBUCKETS-row rollups; the
    doc count is one explode + semi-join against the (broadcast)
    changed-word set."""
    lex = _lexicon_frame(spark, sf_dir, "full").withColumn(
        "bucket", _word_bucket(F.col("word"))
    )
    hotb = lex.groupBy("bucket").agg(F.max("changed").alias("hot"))
    word_stats = (
        lex.join(F.broadcast(hotb), "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("changed").alias("n_changed"),
            F.sum("hot").alias("words_rewritten"),
            F.sum(1 - F.col("hot")).alias("words_preserved"),
        )
    )
    bucket_stats = hotb.agg(
        F.sum("hot").alias("n_buckets_hot"),
        F.sum(1 - F.col("hot")).alias("n_buckets_cold"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    doc_stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        words.join(
            F.broadcast(lex.filter(F.col("changed") == 1).select("word")),
            "word",
            "semi",
        ).agg(F.count_distinct("doc_id").alias("n_docs_retok"))
    )
    return (
        word_stats.crossJoin(bucket_stats)
        .crossJoin(doc_stats)
        .select(
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_changed").cast("long").alias("n_changed"),
            F.col("n_buckets_hot").cast("long").alias("n_buckets_hot"),
            F.col("n_buckets_cold").cast("long").alias("n_buckets_cold"),
            F.col("words_rewritten").cast("long").alias("words_rewritten"),
            F.col("words_preserved").cast("long").alias("words_preserved"),
            F.expr("words_preserved * 100 div n_words")
            .cast("long")
            .alias("pct_words_preserved"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_docs_retok").cast("long").alias("n_docs_retok"),
        )
    )


def _x257_sql() -> str:
    # changed = the base lexicon would serve a different (or no)
    # encoding: full chain (enc_f) vs base-rules-applied chain
    # (a{N+1}), with base-word membership from wb0.
    ctes = (
        _sql_bpe_chain("f", "", True)
        + _sql_bpe_chain("b", f" WHERE doc_id % {BPE_CDC_MOD} != 3", False)
        + _sql_applied_chain()
    )
    bucket = SQL_WORD_BUCKET.format(w="f.word")
    return f"""
        WITH {",".join(ctes)},
        changedw AS (
          SELECT f.word,
                 CASE WHEN wb.word IS NULL OR f.sym != a.sym
                      THEN 1 ELSE 0 END AS changed,
                 {bucket} AS bucket
          FROM enc_f f
          JOIN a{BPE_MERGES + 1} a USING (word)
          LEFT JOIN wb0 wb USING (word)),
        hotb AS (
          SELECT bucket, MAX(changed) AS hot
          FROM changedw GROUP BY bucket),
        word_stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(c.changed) AS BIGINT) AS n_changed,
                 CAST(SUM(h.hot) AS BIGINT) AS words_rewritten,
                 CAST(SUM(1 - h.hot) AS BIGINT) AS words_preserved
          FROM changedw c JOIN hotb h USING (bucket)),
        bucket_stats AS (
          SELECT CAST(SUM(hot) AS BIGINT) AS n_buckets_hot,
                 CAST(SUM(1 - hot) AS BIGINT) AS n_buckets_cold
          FROM hotb),
        docw AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
          FROM documents),
        doc_stats AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
                     AS n_docs,
                 (SELECT CAST(COUNT(DISTINCT d.doc_id) AS BIGINT)
                  FROM docw d JOIN changedw c USING (word)
                  WHERE d.word <> '' AND c.changed = 1) AS n_docs_retok)
        SELECT w.n_words, w.n_changed,
               b.n_buckets_hot, b.n_buckets_cold,
               w.words_rewritten, w.words_preserved,
               CAST(w.words_preserved * 100 // w.n_words AS BIGINT)
                   AS pct_words_preserved,
               d.n_docs, d.n_docs_retok
        FROM word_stats w, bucket_stats b, doc_stats d
        """


register(
    QuerySpec(
        "x257_retok_io_plan",
        x257_retok_io_plan,
        _x257_sql(),
        "vocabulary-swap I/O ledger: lexicon buckets rewritten vs preserved in place, plus the doc-level blast radius",
    )
)


# --- x266/x267: swap-adoption policy + policy-routed re-tokenization ----------
# x253 measures what the retrained vocabulary breaks and x256 executes
# the incremental swap — but nothing encoded WHEN to swap (VERDICT r11
# ask #2: the x231/x258 discipline applied to the tokenizer).  x266 is
# the decide arrow: adopt the swap iff the occurrence blast radius fits
# a budget — occ_changed · RETOK_SWAP_DEN ≤ occ_total · RETOK_SWAP_NUM,
# i.e. frac_changed ≤ NUM/DEN — as a pure BIGINT comparison both
# engines make exactly (no float threshold, no rounding seam).  The
# rationale is the downstream doc-shard rewrite x257 quantifies: a swap
# whose changed occurrences exceed the budget re-tokenizes nearly every
# stored shard, so it is batched for the next full rebuild instead
# (hold).  x267 routes the EXECUTION through the decision (the
# x237/x259 pattern): swap → serve x256's migrated lexicon store; hold
# → serve the un-migrated store (stored base encodings + the on-demand
# base-rules encode a new word would get — x253's old-tokenizer
# semantics).  The oracle re-makes the integer decision in SQL and
# re-tokenizes under BOTH rule tables, selecting the adopted side — one
# hash match proves decision and serve agree cross-engine.
RETOK_SWAP_NUM = 1
RETOK_SWAP_DEN = 4

_SQL_IMPACT_CTE = f"""imp AS (
          SELECT CAST(SUM(f.cnt) AS BIGINT) AS occ_total,
                 CAST(SUM(CASE WHEN f.sym != a.sym THEN f.cnt ELSE 0 END)
                      AS BIGINT) AS occ_changed
          FROM enc_f f JOIN a{BPE_MERGES + 1} a USING (word))"""

_SQL_SWAP_CASE = (
    f"CASE WHEN occ_changed * {RETOK_SWAP_DEN} <= "
    f"occ_total * {RETOK_SWAP_NUM} THEN 'swap' ELSE 'hold' END"
)


def _impact_ctes() -> str:
    """The three unrolled chains every swap-policy oracle shares: full
    train (enc_f, word-carried), base train (bb rules), base rules
    applied to the full word set (a{N+1})."""
    return ",".join(
        _sql_bpe_chain("f", "", True)
        + _sql_bpe_chain("b", f" WHERE doc_id % {BPE_CDC_MOD} != 3", False)
        + _sql_applied_chain()
    )


def _swap_policy_from(imp: DataFrame) -> DataFrame:
    """x266's policy row over an arbitrary impact frame — factored so
    the streaming twin (x270) decides over drained count partials
    through byte-for-byte the same Column expressions."""
    return imp.select(
        F.col("occ_total").cast("long").alias("occ_total"),
        F.col("occ_changed").cast("long").alias("occ_changed"),
        F.lit(RETOK_SWAP_NUM).cast("long").alias("swap_num"),
        F.lit(RETOK_SWAP_DEN).cast("long").alias("swap_den"),
        F.when(
            F.col("occ_changed") * F.lit(RETOK_SWAP_DEN)
            <= F.col("occ_total") * F.lit(RETOK_SWAP_NUM),
            F.lit("swap"),
        )
        .otherwise(F.lit("hold"))
        .alias("decision"),
    )


def x266_retok_swap_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (occ_total, occ_changed, swap_num, swap_den, decision)
    — the swap-adoption rule as exact integers, 'swap' iff
    occ_changed·DEN ≤ occ_total·NUM.  Scale shapes: x253's — the
    corpus-sized work is the slice word count; both rule tables train
    and encode in one vocab-sized Arrow task."""
    return _swap_policy_from(x253_bpe_swap_impact(spark, sf_dir))


def _x266_sql() -> str:
    return f"""
        WITH {_impact_ctes()},
        {_SQL_IMPACT_CTE}
        SELECT occ_total, occ_changed,
               CAST({RETOK_SWAP_NUM} AS BIGINT) AS swap_num,
               CAST({RETOK_SWAP_DEN} AS BIGINT) AS swap_den,
               {_SQL_SWAP_CASE} AS decision
        FROM imp
        """


register(
    QuerySpec(
        "x266_retok_swap_policy",
        x266_retok_swap_policy,
        _x266_sql(),
        "swap-adoption policy: execute the incremental vocabulary swap iff the occurrence blast radius fits the integer budget",
    )
)


def bpe_hold_lexicon_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the UN-migrated lexicon a 'hold'
    decision keeps serving: every full-corpus word under the BASE
    rules (stored encodings for base words + the on-demand base-rules
    encode the old tokenizer emits for a new word).  Path embeds every
    constant the encoding depends on plus the documents fingerprint
    (the GATE_DIR cache-keying invariant)."""

    def build(d: str) -> None:
        (
            _lexicon_frame(spark, sf_dir, "applied")
            .withColumn("bucket", _word_bucket(F.col("word")))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(d)
        )

    tok = store_token("retok-hold-v1", BPE_MERGES, BPE_CDC_MOD, RETOK_NBUCKETS)
    return build_once(sf_dir, "bpeholdlex", f"_{tok}", build, "documents")


def x267_policy_routed_retok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus re-tokenized THROUGH the lexicon x266's policy
    adopts, with the decision named in the output: (decision, doc_id,
    n_tokens, tok_md5).  The decision is one bounded driver scalar
    (x259's pattern: a 1-row collect off the vocab-sized impact frame);
    swap serves x256's migrated store, hold serves the un-migrated
    base-rules store.  The oracle re-makes the identical integer
    decision in SQL and re-tokenizes under BOTH rule tables, selecting
    the adopted side's rows — a hash match proves decision and serve
    agree cross-engine.  Scale shapes: the policy is vocab-sized work;
    the serve is ``_retok_docs`` (one explode + one word-keyed join +
    one doc-keyed reassembly agg, zero BPE applications per doc)."""
    decision = (
        x266_retok_swap_policy(spark, sf_dir).collect()[0].decision
    )
    if decision == "swap":
        lex = spark.read.parquet(bpe_lexicon_path(spark, sf_dir))
    else:
        lex = spark.read.parquet(bpe_hold_lexicon_path(spark, sf_dir))
    return _retok_docs(spark, sf_dir, lex).select(
        F.lit(decision).alias("decision"),
        "doc_id",
        "n_tokens",
        "tok_md5",
    )


def _x267_sql() -> str:
    # Both encodings per word (retrained enc_f vs base-applied a{N+1}),
    # the integer decision re-made in SQL, and one reassembly over the
    # decision-selected side.
    n1 = BPE_MERGES + 1
    return f"""
        WITH {_impact_ctes()},
        {_SQL_IMPACT_CTE},
        dec AS (SELECT {_SQL_SWAP_CASE} AS decision FROM imp),
        wt AS (
          SELECT f.word,
                 array_to_string(string_split(trim(
                     CASE WHEN d.decision = 'swap' THEN f.sym ELSE a.sym END
                   ), '  '), ' ') AS toks,
                 CAST(len(string_split(trim(
                     CASE WHEN d.decision = 'swap' THEN f.sym ELSE a.sym END
                   ), '  ')) AS BIGINT) AS n_toks
          FROM enc_f f JOIN a{n1} a USING (word) CROSS JOIN dec d),
        docw AS (
          SELECT doc_id, pos, word FROM (
            SELECT doc_id,
                   generate_subscripts(ws, 1) AS pos,
                   unnest(ws) AS word
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents))
          WHERE word <> '')
        SELECT (SELECT decision FROM dec) AS decision,
               d.doc_id,
               CAST(SUM(w.n_toks) AS BIGINT) AS n_tokens,
               md5(string_agg(w.toks, ' ' ORDER BY d.pos)) AS tok_md5
        FROM docw d JOIN wt w USING (word)
        GROUP BY d.doc_id
        ORDER BY doc_id
        """


register(
    QuerySpec(
        "x267_policy_routed_retok",
        x267_policy_routed_retok,
        _x267_sql(),
        "policy-routed re-tokenization: the corpus served through the lexicon the swap policy adopts",
    )
)


# --- x106: temperature-based language rebalancing ----------------------------
# UNIMAX/mC4-style alpha sampling: languages are drawn with probability
# proportional to n_l^ALPHA (ALPHA < 1 flattens the head, upsamples the
# tail).  Here ALPHA = 0.5, so weight = sqrt(n_l) — IEEE-exact in both
# engines.  The budget is half the corpus.
MIX_BUDGET_FRAC = 2  # budget = n_docs / MIX_BUDGET_FRAC


def x106_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature-resampled corpus manifest: per-language
    quotas ∝ n_l^0.5 over a budget of half the corpus, filled in
    md5-hash order (reproducible across runs/engines/partitionings, no
    RNG). Output: (doc_id, lang, pick, quota) for every selected doc.

    Shapes: one corpus group-count (tiny result), scalar budget and
    weight-sum via 1-row broadcasts, then one WindowGroupLimit selection
    — the per-language top-quota is retained map-side before the final
    shuffle, so the full corpus is never globally sorted."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    stats = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # weight_l = ROUND(sqrt(n_l), 6): sqrt is exactly rounded (IEEE 754),
    # the ROUND makes the subsequent decimal sum engine-identical.
    weights = stats.select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")), 6).alias("w"),
    )
    totals = weights.agg(
        F.sum(F.col("w").cast("decimal(30,10)")).cast("double").alias("w_sum"),
        # floor() before the integer cast: DuckDB's double→int cast
        # ROUNDS while Spark's truncates, so an odd corpus count would
        # otherwise diverge by one.
        F.floor(F.sum("n_docs") / F.lit(MIX_BUDGET_FRAC)).cast("long").alias("budget"),
    )
    quotas = weights.crossJoin(F.broadcast(totals)).select(
        "lang",
        F.floor(F.col("w") / F.col("w_sum") * F.col("budget"))
        .cast("long")
        .alias("quota"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat_ws("|", F.col("lang"), F.col("doc_id"))), F.col("doc_id")
    )
    return (
        docs.join(F.broadcast(quotas), "lang")
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("long").alias("pick"),
            "quota",
        )
        .filter(F.col("pick") <= F.col("quota"))
        .orderBy("lang", "pick")
    )


register(
    QuerySpec(
        "x106_temperature_mix",
        x106_temperature_mix,
        f"""
        WITH stats AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY lang),
        weights AS (
          SELECT lang, n_docs,
                 ROUND(sqrt(CAST(n_docs AS DOUBLE)), 6) AS w
          FROM stats),
        totals AS (
          SELECT CAST(CAST(SUM(CAST(w AS DECIMAL(30,10))) AS VARCHAR)
                      AS DOUBLE) AS w_sum,
                 CAST(floor(SUM(n_docs) / {MIX_BUDGET_FRAC}) AS BIGINT) AS budget
          FROM weights),
        quotas AS (
          SELECT lang,
                 CAST(floor(w / w_sum * budget) AS BIGINT) AS quota
          FROM weights CROSS JOIN totals),
        picked AS (
          SELECT d.doc_id, d.lang,
                 CAST(ROW_NUMBER() OVER (
                     PARTITION BY d.lang
                     ORDER BY md5(d.lang || '|' || CAST(d.doc_id AS VARCHAR)),
                              d.doc_id) AS BIGINT) AS pick,
                 q.quota
          FROM documents d JOIN quotas q ON d.lang = q.lang)
        SELECT doc_id, lang, pick, quota FROM picked
        WHERE pick <= quota
        ORDER BY lang, pick
        """,
        "temperature-based (alpha=0.5) per-language corpus rebalancing manifest",
    )
)
