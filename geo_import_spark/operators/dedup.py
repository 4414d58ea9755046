"""Near-duplicate detection at corpus scale: word n-gram Jaccard and
MinHash + LSH banding.

Plans are the canonical scale-out shapes:

- n-gram Jaccard: shingle-explode both sides → equi-join on shingle
  (one shuffle keyed by shingle; hot shingles are the skew axis) →
  per-pair |A∩B| count → Jaccard via inclusion–exclusion with the
  per-doc set sizes carried through the explode.
- MinHash: 28-bit shingle hashes (md5-derived, engine-portable) →
  NUM_PERM permutations (a·h + b) mod P with fixed constants → per-doc
  signature array → LSH: slice the signature into bands, join docs
  sharing a band bucket. Candidate generation never compares all
  pairs — the only shuffles are keyed by shingle / band bucket.

Everything is JVM-side array expressions (no Python UDFs); SQL mirrors
for the DuckDB oracle are alongside each operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_import_spark.operators.textops import SQL_HASH28, SQL_TOKENS, hash28, tokens_col

NGRAM = 3
MINHASH_P = 1073741827  # prime > 2^30; (a·h + b) stays < 2^60
NUM_PERM = 16
LSH_BANDS = 4  # 4 bands x 4 rows
ROWS_PER_BAND = NUM_PERM // LSH_BANDS

# Fixed permutation constants — the same integers are inlined into the
# SQL mirror, so signatures are engine-identical.
PERM_A = [(j * 2654435761 + 1) % MINHASH_P or 1 for j in range(1, NUM_PERM + 1)]
PERM_B = [(j * 1779033703 + 7) % MINHASH_P for j in range(1, NUM_PERM + 1)]


def shingles_of_tokens(toks, n: int = NGRAM):
    """Distinct word n-grams (space-joined) of a token-array column.

    Implemented as ONE JVM regex scan over the space-joined tokens:
    a zero-width lookahead captures the n-gram starting at each token
    while the match consumes exactly one token, yielding every
    overlapping gram in a single pass. This replaced a
    transform(sequence, i -> concat_ws(element_at...)) lambda whose
    interpreted per-gram evaluation (higher-order functions never
    enter whole-stage codegen) measured ~77 us/gram — 21 s for a
    260k-gram explode at sf0.1; the regex form is ~7x faster and
    bit-identical (exceptAll both ways == 0). Tokens are \\S+ by
    construction (tokens_col splits on \\s+), so joining with single
    spaces reconstructs them exactly.
    """
    norm = F.array_join(toks, " ")
    pat = r"(?=(" + r" ".join([r"\S+"] * n) + r"))\S+ ?"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    # null toks must yield [] (the old when/otherwise contract), not null
    return F.array_distinct(F.coalesce(grams, F.array().cast("array<string>")))


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.2,
    max_df_frac: float | None = 0.01,
) -> DataFrame:
    """All doc pairs with word-3-gram Jaccard ≥ threshold.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    max_df_frac caps shingle document frequency BEFORE the self-join:
    a shingle appearing in more than max_df_frac of all docs (hot
    boilerplate — the skew axis) is dropped from candidate generation,
    bounding the equi-join's per-key fan-out. Without it one hot
    shingle shared by f docs produces f^2/2 pairs — quadratic blowup
    at corpus scale. Per-doc set sizes (na/nb) still count ALL
    shingles, so the cap only *under*-counts intersections (standard
    recall-on-boilerplate tradeoff). None disables the cap.
    """
    ex = (
        documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select("doc_id", shingles_of_tokens(F.col("toks")).alias("sh"))
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    )
    if max_df_frac is not None:
        cap = max_df_frac * documents.count()
        hot = (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "shingle")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return shared.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _with_sigs(documents: DataFrame) -> DataFrame:
    """(doc_id, sigs) with sigs = the NUM_PERM MinHash minima.

    The shingle-hash array is STAGED as its own projection before the
    16 per-permutation folds reference it: inlining `hs` into each
    fold makes the engine recompute the whole tokenize→shingle→md5
    chain once per permutation (higher-order arguments are not
    common-subexpression-eliminated — the same trap as
    trainprep.repetition_stats; measured ~10x on this operator).
    """
    hs_df = (
        documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.transform(shingles_of_tokens(F.col("toks")), hash28).alias("hs"),
        )
    )

    def perm_fn(a, b):
        return lambda h: (h * F.lit(a) + F.lit(b)) % MINHASH_P

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), perm_fn(a, b)))
            for a, b in zip(PERM_A, PERM_B)
        ]
    )
    return hs_df.select("doc_id", sig.alias("sigs"))


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """Per-doc MinHash signature as (doc_id, perm, sig) rows.

    NOT posexplode(_with_sigs(...)): a Generate over the sig array
    pulls the whole staged expression chain back inline (observed
    plan: 82 split() / 17 md5() occurrences — the stage-then-explode
    structure doesn't survive the optimizer). Instead the signature is
    computed as data flow: explode hashes x 16 literal perm structs →
    groupBy(doc, perm) min — 100% whole-stage codegen, no lambdas,
    map-side partial min, one shuffle on (doc_id, perm).
    explode_outer keeps shingle-less docs as null-signature rows
    (same contract as array_min over an empty array).
    """
    hs_df = (
        documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.transform(shingles_of_tokens(F.col("toks")), hash28).alias("hs"),
        )
    )
    perms = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("perm"),
                    F.lit(a).alias("a"),
                    F.lit(b).alias("b"),
                )
                for j, (a, b) in enumerate(zip(PERM_A, PERM_B))
            ]
        )
    )
    rows = (
        hs_df.select("doc_id", "hs", perms.alias("p"))
        .select(
            "doc_id",
            F.col("p.perm").alias("perm"),
            "p.a",
            "p.b",
            F.explode_outer("hs").alias("h"),
        )
    )
    return rows.groupBy("doc_id", "perm").agg(
        F.min((F.col("h") * F.col("a") + F.col("b")) % MINHASH_P).alias("sig")
    )


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.

    Band bucket = band index + comma-joined signature slice; self-join
    on bucket. Output: (doc_a, doc_b) distinct, doc_a < doc_b.
    """
    sigs = _with_sigs(documents)
    buckets = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(bnd)),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("sigs", bnd * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                        lambda s: s.cast("string"),
                    ),
                ),
            )
            for bnd in range(LSH_BANDS)
        ]
    )
    keyed = sigs.select("doc_id", F.explode(buckets).alias("bucket"))
    a = keyed.select(F.col("doc_id").alias("doc_a"), "bucket")
    b = keyed.select(F.col("doc_id").alias("doc_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def duplicate_clusters(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Near-dup pairs -> connected components -> representative per doc:
    the last step of a production dedup pipeline (keep one doc per
    cluster). Output: (doc_id, cluster_rep) for EVERY document —
    singletons map to themselves; cluster_rep is the lexicographic min
    doc_id of the component (deterministic, engine-independent).

    Plan: iterative min-label propagation. labels start as
    (doc_id, doc_id); each round joins labels to the (bidirectional)
    edge list and takes the per-doc min over {own label} ∪ {neighbor
    labels} — one shuffle keyed by doc_id per round, converging in
    <= graph-diameter rounds (near-dup clusters are shallow: a dup
    cluster's diameter is small by construction, so 3-5 rounds settle
    real corpora). Lineage is truncated per round (localCheckpoint) so
    the driver-bounded loop never builds an unbounded plan. The
    fixpoint test is an exact changed-row count, not a hash.

    pairs defaults to minhash_lsh_pairs(documents); any (doc_a, doc_b)
    pair generator (ngram_jaccard_pairs, simhash buckets) plugs in.

    Durability (VERDICT r3 #2): `checkpoint_dir` opts into reliable
    per-round checkpoints (plans/itercheckpoint.py) — round r's labels
    land at <dir>/labels/round_r as parquet, and a killed run called
    again with the same dir RESUMES from the newest completed round
    instead of round 0 (edges are regenerated — deterministic — but no
    label round is recomputed). Default stays localCheckpoint: zero
    I/O, dies with an executor.
    """
    from geo_import_spark.plans.itercheckpoint import LoopCheckpointer

    ck = LoopCheckpointer(checkpoint_dir, name="labels", every=checkpoint_every)
    if pairs is None:
        pairs = minhash_lsh_pairs(documents)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.localCheckpoint(eager=True)  # pair generation runs once

    start_round = 1
    labels = None
    if ck.durable:
        last, saved = ck.latest(documents.sparkSession)
        if last is not None:
            labels, start_round = saved, last + 1
    if labels is None:
        labels = ck.truncate(
            documents.select("doc_id", F.col("doc_id").alias("label")), 0
        )
    changed = 0  # loop may be skipped entirely on resume at max_rounds
    for rnd in range(start_round, max_rounds + 1):
        neighbor = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .select(F.col("dst").alias("doc_id"), "label")
        )
        new_labels = ck.truncate(
            labels.unionByName(neighbor)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label")),
            rnd,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # ADVICE r4: the SQL mirrors (recursive CTEs) always reach the
        # fixpoint; exiting silently with changed > 0 would return wrong
        # labels that LOOK valid. A component with diameter > max_rounds
        # must fail loudly, not hash-mismatch downstream.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_rounds} rounds "
            f"(last round changed {changed} labels); raise max_rounds or "
            f"pass checkpoint_dir and re-run to continue from round "
            f"{max_rounds}"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


# --- SQL mirrors ------------------------------------------------------------

SQL_SHINGLES = f"""
list_distinct(CASE WHEN len({SQL_TOKENS}) >= {NGRAM} THEN
  list_transform(range(1, len({SQL_TOKENS}) - {NGRAM - 2}),
    i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i+1] || ' ' || {SQL_TOKENS}[i+2])
ELSE [] END)
"""

_PERM_A_SQL = "[" + ", ".join(str(a) for a in PERM_A) + "]"
_PERM_B_SQL = "[" + ", ".join(str(b) for b in PERM_B) + "]"

# Per-doc ordered signature list (index j = permutation j). Tokens,
# shingles, and hashes are staged in CTEs — inlining SQL_SHINGLES into
# the 16-permutation transform makes DuckDB recompute the whole
# tokenize→shingle→md5 chain per permutation too (the oracle-side twin
# of the Spark staging fix; ~20x on the sf0.01 parity wall).
SQL_MINHASH_SIGS_LIST = f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
shl AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= {NGRAM} THEN
           list_transform(range(1, len(toks) - {NGRAM - 2}),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [] END) AS sh
  FROM tk
),
hst AS (
  SELECT doc_id, list_transform(sh, x -> {SQL_HASH28.format(x='x')}) AS hs
  FROM shl
)
SELECT doc_id,
       list_transform(range(1, {NUM_PERM + 1}), j ->
         list_min(list_transform(hs,
           h -> (h * ({_PERM_A_SQL})[j] + ({_PERM_B_SQL})[j]) % {MINHASH_P}))) AS sigs
FROM hst
"""

SQL_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
ex0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
hot AS (
  SELECT shingle FROM ex0 GROUP BY shingle
  HAVING COUNT(*) > (SELECT {{max_df_frac}} * COUNT(*) FROM documents)
),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
FROM shared
WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {{threshold}}
"""

SQL_MINHASH_SIG = f"""
WITH sigs AS ({SQL_MINHASH_SIGS_LIST})
SELECT doc_id, CAST(j - 1 AS INTEGER) AS perm, sigs[j] AS sig
FROM sigs, (SELECT unnest(range(1, {NUM_PERM + 1})) AS j)
"""

SQL_MINHASH_LSH_PAIRS = f"""
WITH sigs AS ({SQL_MINHASH_SIGS_LIST}),
keyed AS (
  SELECT doc_id,
         CAST(b AS VARCHAR) || ':' ||
           array_to_string(list_transform(
             sigs[(b * {ROWS_PER_BAND} + 1):(b * {ROWS_PER_BAND} + {ROWS_PER_BAND})],
             s -> CAST(s AS VARCHAR)), ',') AS bucket
  FROM sigs, (SELECT unnest(range(0, {LSH_BANDS})) AS b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
"""

# Connected components over the LSH pairs: min label reachable from
# each doc (bidirectional edges => component minimum). Mirrors
# duplicate_clusters() value-for-value, singletons included.
SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH_PAIRS}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(doc_id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
)
SELECT doc_id, MIN(label) AS cluster_rep FROM walk GROUP BY doc_id
"""


SIMHASH_BITS = 28
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def simhash_pairs(
    documents: DataFrame,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs, banded — the third classic
    pair generator next to minhash_lsh_pairs / ngram_jaccard_pairs.

    The 28-bit signature (textops.simhash) splits into `bands`
    disjoint 7-bit bands; by pigeonhole, any pair within Hamming
    distance `bands - 1` agrees EXACTLY on at least one band, so
    candidates are pairs sharing a (band_idx, band_value) bucket —
    a bucket equi-join, never all-pairs — and the exact
    popcount(xor) filter keeps dist <= max_hamming. Recall is
    COMPLETE for max_hamming <= bands - 1 (the default 3 <= 4 - 1).

    Band extraction uses div/mod (identical integer semantics in the
    SQL mirror); hamming is bit_count(a XOR b) — exact integers end
    to end. Output: (doc_a, doc_b, hamming), distinct.

    Scale: same shape as the MinHash LSH join — signatures are one
    map pass, buckets shuffle once on (band, value), and a hot bucket
    (a boilerplate-heavy corpus where thousands of docs share a band)
    is the same skew class the LSH path handles; cap bucket size
    upstream if a corpus plants one.
    """
    from geo_import_spark.operators import textops

    width = SIMHASH_BITS // bands
    sigs = textops.simhash(documents)
    b = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.expr(
                        f"(simhash div {1 << (width * i)}) % {1 << width}"
                    ).alias("val"),
                )
                for i in range(bands)
            ])
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.val")
    a, c = b.alias("a"), b.alias("c")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("c.simhash"))
    ).cast("long")
    return (
        a.join(c, (F.col("a.band") == F.col("c.band"))
               & (F.col("a.val") == F.col("c.val"))
               & (F.col("a.doc_id") < F.col("c.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def sql_simhash_pairs(
    bands: int = SIMHASH_BANDS, max_hamming: int = SIMHASH_MAX_HAMMING
) -> str:
    """DuckDB mirror: same div/mod band split, same popcount(xor)."""
    from geo_import_spark.operators import textops

    width = SIMHASH_BITS // bands
    return f"""
WITH s AS ({textops.SQL_SIMHASH}),
b AS (
  SELECT doc_id, simhash, i.band,
         (simhash // CAST(pow(2, {width} * i.band) AS BIGINT))
           % {1 << width} AS val
  FROM s CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) i
)
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
FROM b a JOIN b c
  ON a.band = c.band AND a.val = c.val AND a.doc_id < c.doc_id
WHERE bit_count(xor(a.simhash, c.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (window-granular substring dedup)
# ---------------------------------------------------------------------------

DUP_SPAN_K = 16


def dup_spans(documents: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """Maximal runs of exactly-duplicated text windows — the
    window-granular form of exact substring deduplication (Lee et al.
    2022's suffix-array dedup, restricted to a fixed window lattice so
    the plan is two linear shuffles instead of a suffix sort).

    Each doc is cut into non-overlapping k-char windows; a window is
    DUPLICATED when its exact text occurs in >= 2 window slots
    anywhere in the corpus (cross-doc or within-doc). Adjacent
    duplicated windows merge into maximal char spans (the removal
    candidates for a training-data pipeline).

    Output: (doc_id, start_off, end_off, n_windows) — [start, end)
    char offsets, 0-based.

    Plan: window explode is map-side (sequence/transform, output =
    total_chars/k rows); ONE shuffle on window hash builds df, and the
    >= 2 set joins back as a plain equi-join — AQE broadcasts it when
    its measured size fits (the common case: dup hashes are a small
    fraction) and falls back to shuffle join when it doesn't, so the
    corpus-sized worst case still runs; ONE shuffle on doc_id runs the
    gaps-and-islands window. Both shuffles are linear in corpus
    chars/k; no join can fan out (the df join key is the full hash,
    each slot matches at most once). The corpus is scanned twice
    (histogram + join-back), both scans filter-pushed and
    column-pruned to (doc_id, text).
    """
    ex = (
        documents.filter(F.length("text") >= k)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, length(text) div {k} - 1), "
                    f"i -> named_struct('i', i, "
                    f"'h', md5(substring(text, 1 + i * {k}, {k}))))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.i").cast("long").alias("i"), F.col("w.h").alias("h"))
    )
    dup_h = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= 2
    )
    marked = ex.join(dup_h.select("h"), "h")
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy("i")
    return (
        marked.select(
            "doc_id", "i",
            (F.col("i") - F.row_number().over(win)).alias("grp"),
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("i0"),
            F.max("i").alias("i1"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            (F.col("i0") * k).cast("long").alias("start_off"),
            ((F.col("i1") + 1) * k).cast("long").alias("end_off"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )
    )


def sql_dup_spans(k: int = DUP_SPAN_K) -> str:
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(range(0, length(text) // {k})) AS i, text
  FROM documents WHERE length(text) >= {k}
), w AS (
  SELECT doc_id, i,
         md5(substr(text, CAST(1 + i * {k} AS INTEGER), {k})) AS h
  FROM ex
), dups AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
m AS (SELECT doc_id, i FROM w JOIN dups USING (h)),
g AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM m
)
SELECT doc_id, CAST(MIN(i) * {k} AS BIGINT) AS start_off,
       CAST((MAX(i) + 1) * {k} AS BIGINT) AS end_off,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM g GROUP BY doc_id, grp
"""


def dup_coverage(documents: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """Per-document duplicated-character fraction — the number a
    training-data pipeline actually thresholds on ("drop docs > 80%
    duplicated"): total chars inside dup_spans runs over text length.

    Documents with no duplicated window (including docs shorter than
    one window) appear with dup_chars = 0 and dup_frac = 0.0, so the
    output is a total function of the corpus — a filter can anti-join
    nothing.

    Output: (doc_id, text_len, dup_chars, dup_frac); dup_frac is ONE
    correctly-rounded division of two exact BIGINTs (bit-identical
    across engines), 0.0 for empty text.

    Plan: dup_spans' two linear shuffles, then a per-doc sum that
    REUSES the gaps-and-islands doc_id partitioning (no extra
    Exchange), and one doc-keyed left join against the column-pruned
    (doc_id, length) scan.
    """
    spans = dup_spans(documents, k=k)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("end_off") - F.col("start_off")).alias("dup_chars")
    )
    lens = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("text_len"),
    )
    return lens.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "text_len",
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
        F.when(
            F.col("text_len") > 0,
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
            / F.col("text_len").cast("double"),
        ).otherwise(F.lit(0.0)).alias("dup_frac"),
    )


def sql_dup_coverage(k: int = DUP_SPAN_K) -> str:
    return f"""
WITH spans AS ({sql_dup_spans(k)}),
per_doc AS (
  SELECT doc_id, SUM(end_off - start_off) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       CAST(length(d.text) AS BIGINT) AS text_len,
       CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CASE WHEN length(d.text) > 0 THEN
         CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
           / CAST(length(d.text) AS DOUBLE)
       ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""
