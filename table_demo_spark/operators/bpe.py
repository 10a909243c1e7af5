"""Distributed BPE vocabulary training — fully declarative merge rounds.

Byte-pair-encoding training alternates (1) count adjacent token
pairs, (2) pick the most frequent, (3) rewrite every sequence with
the pair merged greedily left-to-right non-overlapping. Step (3) is
the part engines usually punt to per-row Python; here it is pure
relational algebra, which is what lets the rewrite run partition-
parallel over a 100 TB corpus:

- pair at position i matches the round's top pair (the learned pair
  is a single row — collected once per round and re-broadcast as a
  literal, the same O(1) bytes Spark's own broadcast exchange ships
  through the driver — which truncates lineage between rounds);
- greedy non-overlap == run-length parity: within each maximal run
  of consecutive matching positions, exactly the even offsets are
  merged ("x x x" -> "[x x] x"). Runs are gaps-and-islands
  (pos - row_number over matches), parity is (pos - run_start) % 2;
- the rewrite keeps a row unless its left neighbor merged, replaces
  merged heads with the joined token, and renumbers positions for
  the next round.

Each round is 2 shuffles on doc_id (the lead/lag windows) + 1 pair
count agg. Merged tokens embed the non-whitespace separator SEP, so
later rounds can merge merged tokens unambiguously — true BPE, not
bigram capping.

One batched merge loop (:func:`_merge_scans`) backs both
:func:`bpe_learn` and :func:`bpe_train_batched`; :func:`bpe_train`
is the one-merge-per-round reference and :func:`bpe_train_local`
the single-task strategy for bounded samples. Tokenizing a corpus
with a learned merge list has ONE path, :func:`bpe_apply_vocab`.

The DuckDB oracle (queries/llmops.py) is generated from the same
constants by the same loop, stating the identical parity rewrite.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Unit separator: cannot appear in whitespace-split tokens, so pair
# keys and merged tokens stay unambiguous even once merged tokens
# (which embed SEP) participate in later rounds. A space separator
# would collide ("a b"+"c" vs "a"+"b c").
SEP = "\x1f"


def _tokens_positions(docs: DataFrame, text_col: str) -> DataFrame:
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )


def apply_merge(paired: DataFrame, top: DataFrame) -> DataFrame:
    """Rewrite a (doc_id, pos, tok, nxt) frame with the single merge
    pair in the 1-row broadcast ``top`` frame — the greedy
    non-overlapping run-parity rewrite (module docstring) — one
    round of :func:`bpe_train`."""
    marked = paired.crossJoin(F.broadcast(top)).withColumn(
        "m",
        F.col("nxt").isNotNull()
        & (F.concat_ws(SEP, "tok", "nxt") == F.col("top_pair")),
    )
    return _run_parity_rewrite(marked)


def apply_merge_batch(paired: DataFrame, pairs: list[str]) -> DataFrame:
    """Rewrite a (doc_id, pos, tok, nxt) frame with a BATCH of
    pairwise-token-disjoint merge pairs in ONE pass. Disjointness is
    what makes a single run-parity rewrite equal the sequential
    per-pair rewrites: a position can match at most one batch pair
    (two pairs claiming adjacent positions would share the middle
    token), so every maximal run of consecutive matches is a run of
    the SAME pair and the existing parity rule applies verbatim. The
    batch ships as an IN-list literal — O(batch) bytes in the plan,
    no join."""
    marked = paired.withColumn(
        "m",
        F.col("nxt").isNotNull()
        & F.concat_ws(SEP, "tok", "nxt").isin(pairs),
    )
    return _run_parity_rewrite(marked)


def _run_parity_rewrite(marked: DataFrame) -> DataFrame:
    """Greedy non-overlapping merge of every marked (m) position:
    consecutive-run detection, even-parity acceptance, consumed-
    neighbor drop, position renumber (module docstring).

    Every window here shares ONE partitioning + ordering
    (doc_id, pos), so a whole round's rewrite runs behind a single
    Exchange — the original gaps-and-islands form partitioned by
    (doc_id, m) and (doc_id, grp) as well, paying two more full
    shuffles per merge round (pinned by tests/test_plans.py::
    test_bpe_rewrite_single_exchange). The restatement relies on an
    invariant every caller upholds: ``pos`` is consecutive
    0..n-1 per doc (posexplode output, or this function's own
    renumber), so "previous row in pos order" == "pos - 1" and a
    maximal run of marked positions starts exactly where ``m`` holds
    but ``lag(m)`` does not. The run-start position then propagates
    as a running max of those start positions, and parity of
    (pos - run_start) is the original even-offset acceptance.
    Randomized 30-corpus x 3-round fuzz vs the gaps-and-islands
    form: bit-identical rewrites (r15 opt round)."""
    wm = Window.partitionBy("doc_id").orderBy("pos")
    wcum = wm.rowsBetween(Window.unboundedPreceding, 0)
    prev = marked.withColumn(
        "prev_m", F.coalesce(F.lag("m").over(wm), F.lit(False))
    )
    runs = prev.withColumn(
        "run_start",
        F.max(
            F.when(F.col("m") & ~F.col("prev_m"), F.col("pos"))
        ).over(wcum),
    )
    accepted = runs.withColumn(
        "acc",
        F.col("m")
        & (((F.col("pos") - F.col("run_start")) % 2) == 0),
    )
    with_prev = accepted.withColumn(
        "prev_acc",
        F.coalesce(F.lag("acc").over(wm), F.lit(False)),
    )
    return (
        with_prev.filter(~F.col("prev_acc"))
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("acc"), F.concat_ws(SEP, "tok", "nxt")
            ).otherwise(F.col("tok")).alias("tok"),
        )
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
            - 1,
        )
    )


def _paired(tp: DataFrame) -> DataFrame:
    w = Window.partitionBy("doc_id").orderBy("pos")
    return tp.withColumn("nxt", F.lead("tok").over(w))


def _pair_counts(paired: DataFrame) -> DataFrame:
    """(pair, cnt) adjacent-pair counts from a paired token frame."""
    return (
        paired.filter(F.col("nxt").isNotNull())
        .groupBy(F.concat_ws(SEP, "tok", "nxt").alias("pair"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _top_pair(paired: DataFrame) -> DataFrame:
    """1-row (top_pair, top_cnt) frame from a paired token frame."""
    counts = _pair_counts(paired)
    # Top-1 pair needs no sort at all: a single min_by aggregate with
    # map-side partials. Ordering key (-cnt, pair) == (cnt DESC,
    # pair ASC), the same deterministic tie-break the oracle states.
    # Unlike a global row_number window this never funnels the
    # corpus-sized pair vocabulary through one task.
    return counts.agg(
        F.min_by(
            F.struct(F.col("pair"), F.col("cnt")),
            F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("pair")),
        ).alias("t")
    ).select(
        F.col("t.pair").alias("top_pair"), F.col("t.cnt").alias("top_cnt")
    )


def _collect_top(paired: DataFrame) -> tuple[DataFrame, str, int]:
    """Execute one round's top-pair aggregate and return it re-bound
    as a 1-row LITERAL frame (plus its values). The learned merge is
    O(1) bytes — the same single row Spark's own broadcast exchange
    would ship through the driver — and re-binding it as a literal
    TRUNCATES the logical plan between rounds: round r+1's lineage no
    longer references round r's aggregation subtree, which is what
    lets superseded per-round caches actually be freed (ADVICE r3; a
    lazily-chained plan must keep every prior round cached or
    recompute quadratically). The aggregate itself stays fully
    distributed: min_by with map-side partials, pinned by
    tests/test_plans.py::test_bpe_round_top_pair_is_min_by_aggregate.

    Returns (None, None, None) when the corpus has no adjacent pair
    left (every doc down to one token) — callers stop with the merges
    learned so far instead of crashing on the null aggregate row."""
    row = _top_pair(paired).collect()[0]
    if row["top_pair"] is None:
        return None, None, None
    spark = paired.sparkSession
    lit = spark.createDataFrame(
        [(row["top_pair"], int(row["top_cnt"]))],
        "top_pair string, top_cnt long",
    )
    return lit, row["top_pair"], int(row["top_cnt"])


_CHECKPOINT_EVERY = 4  # scratch-checkpoint cadence (rounds)


def _scratch_checkpoint(
    df: DataFrame, count: bool
) -> tuple[DataFrame, str, int | None]:
    """Write one round's rewritten corpus to scratch parquet and read
    it back — TRUE lineage truncation, which ``persist()`` is not: a
    persisted round keeps its full upstream plan nested inside the
    InMemoryRelation. The read-back frame's plan is a flat parquet
    scan. The optional row count reads parquet footer metadata only.
    At cluster scale the scratch dir is durable shared storage and
    this is the standard checkpoint-per-iteration pattern."""
    from table_demo_spark.scratch import scratch_dir

    d = scratch_dir("tds-bpe-round-")
    df.write.mode("overwrite").parquet(d)
    out = df.sparkSession.read.parquet(d)
    n = int(out.count()) if count else None
    return out, d, n


class _ChainState:
    """Bounded materialization for one merge-loop chain, balancing the
    r3 and r4 failure modes (both measured, docs/SCALE.md):

    - persist-EVERY-round (r3) is cheap per round but nests one
      InMemoryRelation generation per round into the plan — per-round
      wall time compounded ~1.3x/round and the driver OOM'd in plan
      stringification at round 13;
    - scratch-checkpoint-EVERY-round (r4) bounds the plan at one
      generation but pays a parquet write+read+count per round — a
      2.1x constant-factor regression at the registered queries'
      3-round operating point.

    So: persist between checkpoints (at most TWO cached generations —
    a round's cache may only be dropped once its successor's cache is
    populated, which happens during the next round's top-pair
    collect), and scratch-checkpoint every ``_CHECKPOINT_EVERY``
    rounds, unpersisting the cached generations and deleting the
    superseded scratch dir. Plan depth and block-manager state are
    bounded by the cadence no matter how many rounds run; rounds
    below the cadence (every registered query) never touch disk."""

    def __init__(self) -> None:
        self.dir: str | None = None
        self.caches: list[DataFrame] = []

    def advance(
        self, df: DataFrame, round_no: int, count: bool = True
    ) -> tuple[DataFrame, int | None]:
        import shutil

        if round_no % _CHECKPOINT_EVERY == 0:
            out, d, n = _scratch_checkpoint(df, count)
            for c in self.caches:
                c.unpersist()
            self.caches = []
            if self.dir is not None:
                shutil.rmtree(self.dir, ignore_errors=True)
            self.dir = d
            return out, n
        cached = df.persist()
        n = int(cached.count()) if count else None
        self.caches.append(cached)
        while len(self.caches) > 2:
            self.caches.pop(0).unpersist()
        return cached, n

    def release(self) -> None:
        import shutil

        for c in self.caches:
            c.unpersist()
        self.caches = []
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
            self.dir = None


BPE_TRAIN_SCHEMA = (
    "round long, merge_pair string, pair_cnt long, n_tokens_after long"
)


def bpe_train(docs: DataFrame, iters: int = 3, text_col: str = "text") -> DataFrame:
    """(round, merge_pair, pair_cnt, n_tokens_after) per round.

    The loop is EAGER with bounded driver/executor state: the learned
    pair is collected (1 row) and re-broadcast as a literal (which
    truncates the TOP side's lineage), and the rewritten corpus
    advances through :class:`_ChainState` — memory persist per round,
    scratch checkpoint every ``_CHECKPOINT_EVERY`` rounds. All scratch
    and cache state is released before returning (the result is a
    literal frame)."""
    spark = docs.sparkSession
    tp = _tokens_positions(docs, text_col)
    chain = _ChainState()
    rows = []
    try:
        for r in range(1, iters + 1):
            paired = _paired(tp)
            top_lit, pair, cnt = _collect_top(paired)
            if top_lit is None:  # corpus exhausted: no pair left
                break
            tp, n_after = chain.advance(apply_merge(paired, top_lit), r)
            rows.append((r, pair, cnt, n_after))
    finally:
        chain.release()
    return spark.createDataFrame(rows, BPE_TRAIN_SCHEMA)


def _merge_scans(
    tp: DataFrame, iters: int, batch: int
) -> Iterator[tuple[list[tuple[str, int]], DataFrame]]:
    """The batched merge loop: per corpus scan, collect the top-``batch``
    pairs with their variant splits (one TakeOrdered job — map-side
    partial top-k, no global sort), keep the provably order-preserving
    prefix (:func:`_plan_batch`), and apply ALL of it in one run-parity
    rewrite (:func:`apply_merge_batch`). Yields each scan's picked
    (pair, count) list and the rewritten (doc_id, pos, tok) frame,
    stopping after ``iters`` merges or when no adjacent pair is left.
    The frame is valid until the next step: it advances through
    :class:`_ChainState`, released when the loop ends."""
    chain = _ChainState()
    merged_symbols: set[str] = set()
    n_merges = scans = 0
    try:
        while n_merges < iters:
            paired = _paired(tp)
            cands = [
                (
                    row["pair"],
                    int(row["cnt"]),
                    [(v["tok"], v["nxt"]) for v in row["variants"]],
                )
                for row in paired.filter(F.col("nxt").isNotNull())
                .groupBy(F.concat_ws(SEP, "tok", "nxt").alias("pair"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("cnt"),
                    F.collect_set(F.struct("tok", "nxt")).alias("variants"),
                )
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(batch)
                .collect()
            ]
            if not cands:  # corpus exhausted: no pair left
                return
            picked = _plan_batch(cands, merged_symbols)[: iters - n_merges]
            merged_symbols |= {p for p, _ in picked}
            n_merges += len(picked)
            scans += 1
            tp, _ = chain.advance(
                apply_merge_batch(paired, [p for p, _ in picked]),
                scans,
                count=False,
            )
            yield picked, tp
    finally:
        chain.release()


def bpe_learn(
    docs: DataFrame, iters: int = 3, text_col: str = "text",
    batch: int = 16,
) -> list[str]:
    """Learn ``iters`` merges and return the SEP-joined pair strings
    in priority (learning) order — the artifact a production tokenizer
    ships; feed the result to :func:`bpe_apply_vocab` for the one-pass
    corpus tokenization.

    The loop is :func:`_merge_scans` (multiple provably-order-
    preserving merges per corpus scan): the merges list is
    byte-identical to the classic one-scan-per-merge loop by the
    batching rule t31's oracle gates on the real corpus (and
    tests/test_operators.py's randomized hunts attack), while a scan
    amortizes across up to ``batch`` merges.  Measured on q41's
    training sample (sf0.1, 8 merges): 2 scans instead of 8 rounds,
    22.2 -> 2.0 s warm / 34.9 -> 6.1 s cold, identical merges — the
    per-round cost at this scale is Spark job latency, so scan count
    is the whole ballgame (guide §1.2 step 1; at 100 TB the saved
    scans are corpus passes, the same win for the opposite reason).
    The classic loop remains in :func:`bpe_train` (t20's declared
    surface) as the sequential reference."""
    return [
        pair
        for picked, _ in _merge_scans(
            _tokens_positions(docs, text_col), iters, batch
        )
        for pair, _ in picked
    ]


BPE_APPLY_SCHEMA = "doc_id long, n_before long, n_after long, n_merged long"


def bpe_apply_vocab(
    docs: DataFrame, merges: list[str], text_col: str = "text"
) -> DataFrame:
    """Tokenize a corpus with a LEARNED merge list in ONE corpus pass —
    the production apply path. The per-round relational rewrite is the
    right *training* shape (pair counts need the corpus), but
    *application* cost there is one full-corpus rewrite per merge; a
    real tokenizer has ~30k merges, so apply must be one pass that
    carries the whole vocabulary with it.

    The merge list (O(vocab) bytes) ships to every task as a closure
    constant — the same bytes a broadcast variable would ship — and an
    Arrow-batched ``mapInPandas`` applies ALL merges per document in
    priority order. Tokenization stays JVM-side (the identical
    ``split(trim(lower(text)))`` expression as ``_tokens_positions``,
    so the Python side cannot diverge on whitespace/locale semantics);
    per document, each merge is a greedy left-to-right non-overlapping
    scan — exactly ``apply_merge``'s run-parity semantics, proven
    equivalent by the t28 oracle gate which unrolls the relational
    rewrite round by round. A merged token IS its SEP-joined pair
    string, so matching compares ``tok + SEP + nxt`` against the pair
    string and no ambiguous splitting of SEP-embedded tokens occurs.
    A per-doc substring prefilter (pair in SEP-joined doc; false
    positives harmless, false negatives impossible) skips absent
    merges at C speed, which is the common case once the vocabulary
    outgrows any one document.

    Returns per-doc stats (doc_id, n_before, n_after, n_merged), where
    n_merged counts final tokens containing a learned merge (the SEP
    marker). Zero shuffles, zero per-merge jobs: one corpus scan
    regardless of vocabulary size."""
    import pandas as pd

    merge_list = list(merges)

    def tokenize_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
                toks = list(toks)
                n_before = len(toks)
                joined = SEP.join(toks)
                for pair in merge_list:
                    if pair not in joined:
                        continue
                    merged = []
                    i = 0
                    n = len(toks)
                    changed = False
                    while i < n:
                        if (
                            i + 1 < n
                            and toks[i] + SEP + toks[i + 1] == pair
                        ):
                            merged.append(pair)
                            i += 2
                            changed = True
                        else:
                            merged.append(toks[i])
                            i += 1
                    if changed:
                        toks = merged
                        joined = SEP.join(toks)
                n_merged = sum(1 for t in toks if SEP in t)
                out_rows.append((doc_id, n_before, len(toks), n_merged))
            yield pd.DataFrame(
                out_rows,
                columns=["doc_id", "n_before", "n_after", "n_merged"],
            )

    toks_df = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("toks"),
    )
    # CPU-bound Python must not inherit a small input's file layout
    # (a single-file corpus would serialize the whole merge pass into
    # one task); fan_out's guard skips the shuffle when the scan
    # already has enough splits — and for streaming frames (q26)
    # always spreads the one-file micro-batch across the cluster.
    from table_demo_spark.sources.batch import fan_out

    return fan_out(toks_df).mapInPandas(
        tokenize_batches, schema=BPE_APPLY_SCHEMA
    )


def _plan_batch(
    cands: list[tuple[str, int, list[tuple[str, str]]]],
    merged_symbols: set[str],
) -> list[tuple[str, int]]:
    """The merge-batching rule: from candidates (pair key, count,
    variant (tok, nxt) list) sorted by (cnt DESC, pair ASC), pick the
    pairs that provably reproduce sequential greedy order when merged
    together in one rewrite. Always returns at least the top-1 (a
    1-element batch is exactly the classic round, which is sound
    unconditionally).

    Counting and matching are keyed by the SEP-joined CONCAT string —
    the canonical relational semantics shared by the oracle chain and
    every trainer — but a key can be produced by several distinct
    (tok, nxt) splits once merged tokens (which embed SEP) exist, so
    token-level reasoning uses each key's actual variant tokens,
    never a re-split of the key string.

    Acceptance is the longest prefix satisfying, in order:

    1. PAIRWISE TOKEN-DISJOINT (union over variants): earlier batch
       merges then leave later batch pairs' counts AND accepted
       positions unchanged — at sequential round j, q_j still has its
       scanned count — and consecutive matched positions always
       belong to the SAME key (two different keys on adjacent
       positions would share the middle token), so one run-parity
       rewrite applies them all. The prefix stops at the first
       interferer; its count is the CUT.
    2. STRICT CUT: only counts > cut are kept (when the whole top-B
       is disjoint the last candidate's count is the cut — keys
       beyond the collected B are unseen but bounded by it). Every
       key outside the prefix has count <= cut at scan time, merging
       only DESTROYS adjacencies of non-batch tokens, and a BRAND-NEW
       key (one involving a just-merged symbol) is born from consumed
       adjacencies of some excluded key sharing a batch token, so its
       count is <= cut too: everything else stays strictly below
       every accepted pair at its round.
    3. HAZARD GUARD — a pair whose merge can create or boost a key
       ABOVE the cut closes the batch (it is accepted only as the
       LAST element, so its effects land after every in-batch
       comparison and the next scan recounts exactly). Two hazards:

       a. ALIAS: a new adjacency's key can COINCIDE with a
          pre-existing key (e.g. merging (x,y) beside w creates
          w||SEP||x||SEP||y — the same string the pre-existing
          adjacency (w||SEP||x, y) counts under), holding old+new
          count above the cut. Any such overlap must span a SEP
          boundary, so the alternative split's partner token always
          contains SEP — i.e. it is a previously-MERGED symbol, and
          the trainer knows every merged symbol it created.
          :func:`_alias_risk` enumerates the possible split
          positions of w||P and P||w and checks each required
          partner shape against the merged-symbol inventory — a
          positional test, not mere atom sharing, so unrelated
          merges don't close batches. The first scan of a corpus
          has no merged symbols and batches at full width.
       b. SELF-OVERLAP: a new key born beside a merged occurrence is
          bounded by the count of the CONSUMED neighbor key — which
          is <= cut for every key except the merged pair itself. A
          self-pair like (c,c) on runs 'c c c' consumes its own
          occurrences and spawns c||c||c with count up to its OWN
          (above-cut) count. The string test: some variant's y is a
          key prefix (y||SEP...) or x is a key suffix (...SEP||x).

    Ties WITHIN the accepted prefix are fine: their counts are
    untouched, so sequential resolves them by pair ASC — the order
    they already hold in the sorted prefix. The
    adversarial-alphabet hypothesis property test and a 3000-case
    randomized hunt (tests/test_operators.py) attack these arguments
    empirically — the self-overlap clause was FOUND by that hunt, not
    foreseen; the t31 oracle gates the rule on the real corpus."""
    used: set[str] = set()
    batch: list[tuple[str, int]] = []
    cut: int | None = None
    closed = False
    for pair, cnt, variants in cands:
        if closed:
            cut = cnt
            break
        toks = {t for tn in variants for t in tn}
        if toks & used:
            cut = cnt
            break
        self_overlap = any(
            pair.startswith(y + SEP) or pair.endswith(SEP + x)
            for x, y in variants
        )
        batch.append((pair, cnt))
        used |= toks
        if self_overlap or _alias_risk(pair, variants, merged_symbols):
            closed = True  # accepted, but nothing may follow it
    else:
        if len(batch) == len(cands):
            cut = batch[-1][1]  # unseen tail bounded by last candidate
    if cut is not None:
        batch = [(p, c) for p, c in batch if c > cut]
    return batch or [(cands[0][0], cands[0][1])]


def _alias_risk(
    pair: str,
    variants: list[tuple[str, str]],
    merged_symbols: set[str],
) -> bool:
    """True iff merging ``pair`` beside some neighbor token could
    produce an adjacency whose key string COINCIDES with a
    pre-existing key. The new key is w||P or P||w; a coinciding
    pre-existing adjacency is a different SEP-split (a, b) of the
    same string, and whichever of a/b crosses or abuts the P region
    necessarily contains SEP — i.e. it is a merged symbol. Enumerate
    each possible split position and test the required partner shape
    against the merged-symbol inventory (every SEP-containing token
    in the corpus is a previously-merged key, by construction):

    - split inside w:            partner ends with SEP||P
    - split inside trailing w:   partner starts with P||SEP
    - split at the x|y boundary: partner ends with SEP||x
                                 (or, right side, starts with y||SEP)
    - split inside x:            partner is a proper SEP-suffix of P
                                 longer than y, or starts with
                                 (suffix of x)||SEP||y||SEP
    - split inside y:            partner is a proper SEP-prefix of P
                                 longer than x, or ends with
                                 SEP||x||SEP||(prefix of y)
    - split at the w|P boundary: partner would be a token equal to P
                                 itself, which cannot pre-exist (a
                                 token's string is the key that
                                 merged it, and P is only now being
                                 merged) — no test needed."""
    for x, y in variants:
        xa, ya = x.split(SEP), y.split(SEP)
        for s in merged_symbols:
            if s.endswith(SEP + pair) or s.startswith(pair + SEP):
                return True
            if s.endswith(SEP + x) or s.startswith(y + SEP):
                return True
            if pair.endswith(SEP + s) and len(s) > len(y):
                return True
            if pair.startswith(s + SEP) and len(s) > len(x):
                return True
            if any(
                s.endswith(SEP + x + SEP + SEP.join(ya[:i]))
                for i in range(1, len(ya))
            ):
                return True
            if any(
                s.startswith(SEP.join(xa[i:]) + SEP + y + SEP)
                for i in range(1, len(xa))
            ):
                return True
    return False


def bpe_train_batched(
    docs: DataFrame,
    iters: int = 16,
    batch: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """:func:`bpe_train` semantics — identical output, byte-for-byte —
    with MULTIPLE merges learned per corpus scan. Classic BPE training
    costs one pair-count scan per merge; at a production ~30k-merge
    vocabulary that is ~30k sequential jobs. Here the scans are
    :func:`_merge_scans`' (shared with :func:`bpe_learn`), so a scan
    amortizes across up to ``batch`` merges. Scan count tracks
    the corpus's TIE STRUCTURE: counts that separate (Zipfian natural
    text) batch at full width, while ties at the cut must run
    one-per-scan — a tied accepted pair can be outranked at its
    sequential round, on the name tie-break, by a key the earlier
    merges only just created, so exactness forbids batching through a
    tie plateau. The worst case degrades to the classic one-per-scan,
    never below it. Measured (docs/SCALE.md): sf0.01 fixture — dense
    synthetic ties, near the worst case — 16 merges in 11 scans, 64
    in 59; a Zipfian-weighted variant of the same corpus batches far
    wider.

    Per accepted pair, ``pair_cnt`` is its count in the shared scan
    (equal to its count at its own sequential round — earlier batch
    merges are token-disjoint) and ``n_tokens_after`` is reconstructed
    from the per-pair merged-occurrence counts: occurrences are also
    unchanged by disjoint earlier merges, so
    n_after(j) = n_before_scan - sum(occ_1..occ_j)."""
    tp = _tokens_positions(docs, text_col)
    n_tokens = tp.count()
    rows: list[tuple[int, str, int, int]] = []
    for picked, rewritten in _merge_scans(tp, iters, batch):
        occ = {
            row["tok"]: int(row["occ"])
            for row in rewritten.filter(
                F.col("tok").isin([p for p, _ in picked])
            )
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("occ"))
            .collect()
        }
        for pair, cnt in picked:
            # each merged occurrence replaces two tokens with one
            n_tokens -= occ.get(pair, 0)
            rows.append((len(rows) + 1, pair, cnt, n_tokens))
    return docs.sparkSession.createDataFrame(rows, BPE_TRAIN_SCHEMA)


def bpe_train_local(docs: DataFrame, iters: int, text_col: str = "text") -> DataFrame:
    """Train a WHOLE BPE vocabulary in ONE Spark action — the bounded-
    sample fast path. Production tokenizers train on a size-bounded
    sample (statistics converge long before the corpus is exhausted),
    and a sample bounded BY CONSTRUCTION fits a single task at any
    corpus scale — so the merge loop, which is inherently sequential
    (round r+1's counts depend on round r's rewrite), runs where
    sequential loops belong: inside one executor task, not as
    O(vocab) driver-orchestrated jobs. Tokenization stays JVM-side
    (the identical split(trim(lower())) expression as
    ``_tokens_positions``) so Python cannot diverge on whitespace
    semantics; the task then runs the count/argmax/greedy-rewrite
    loop in plain Python over the in-memory sample.

    Job count is O(1) in the vocabulary size — the caller picks
    ``iters`` freely; 64 merges and 8 merges are the same single
    action (pinned by tests/test_operators.py). Output rows are
    byte-identical to :func:`bpe_train`'s relational chain (same
    (cnt DESC, pair ASC) tie-break, same greedy left-to-right
    non-overlapping rewrite), gated by the t30 oracle."""
    from collections import Counter

    import pandas as pd

    n_iters = int(iters)

    def train(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        corpus: list[list[str]] = []
        for pdf in batches:
            corpus.extend(list(t) for t in pdf["toks"])
        out: list[tuple[int, str, int, int]] = []
        n_tokens = sum(len(t) for t in corpus)
        for r in range(1, n_iters + 1):
            counts: Counter[str] = Counter()
            for toks in corpus:
                for a, b in zip(toks, toks[1:]):
                    counts[a + SEP + b] += 1
            if not counts:
                break
            pair = min(counts, key=lambda p: (-counts[p], p))
            merged_occ = 0
            for d, toks in enumerate(corpus):
                if pair not in SEP.join(toks):
                    continue
                nt: list[str] = []
                i, n = 0, len(toks)
                while i < n:
                    if i + 1 < n and toks[i] + SEP + toks[i + 1] == pair:
                        nt.append(pair)
                        merged_occ += 1
                        i += 2
                    else:
                        nt.append(toks[i])
                        i += 1
                corpus[d] = nt
            n_tokens -= merged_occ
            out.append((r, pair, counts[pair], n_tokens))
        yield pd.DataFrame(
            out,
            columns=["round", "merge_pair", "pair_cnt", "n_tokens_after"],
        )

    toks = docs.select(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("toks")
    )
    # ONE task holds the whole (bounded-by-construction) sample: the
    # loop is sequential by nature, so concentrating it is the
    # optimal physical strategy — parallelism belongs to the APPLY
    # pass (bpe_apply_vocab), which is where the corpus-sized work is.
    return toks.repartition(1).mapInPandas(train, schema=BPE_TRAIN_SCHEMA)
