"""Deduplication operators for a training-data pipeline (north-star
extensions, BASELINE.json): exact, n-gram-Jaccard similarity join,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

The reference's only dedup is the `_id`-keyed upsert
(ingestion-elasticsearch.py:36-55) — exact key dedup. A 100 TB corpus
needs content dedup:

- **exact**: hash-groupBy on a content digest — one shuffle on the
  digest; at scale the digest (16 bytes) shuffles, never the text.
- **n-gram Jaccard (exact)**: inverted-index set-similarity join —
  explode shingles, self-join on shingle, count commons per pair. Quadratic in
  the hot-shingle document frequency → ``max_df`` prunes stop-shingles
  (prefix-filter analog). This is the verification oracle for LSH.
- **MinHash + LSH**: per-doc K-perm signature (xxhash64 family), banded
  into b buckets; candidate pairs only within equal (band, hash)
  buckets → candidate count ~linear for bounded bucket sizes; verified
  with exact Jaccard. The scale path: no all-pairs stage anywhere.
- **SimHash**: 64-bit per-doc sketch; near-dups = small Hamming
  distance, banded on 16-bit chunks for sub-linear candidate gen.
- **embedding cosine**: exact pair join at test scale; LSH/IVF variant
  in operators.similarity is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --- shingling ------------------------------------------------------------

SHINGLE_EXPR = (
    "CASE WHEN size({toks}) < {n} THEN array() "
    "ELSE array_distinct(transform(sequence(1, size({toks}) - {n} + 1), "
    "i -> concat_ws(' ', slice({toks}, i, {n})))) END"
)


def with_shingles(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (empty when the doc
    has fewer than n tokens — guards sequence()'s descending behavior)."""
    toks = f"split({text_col}, ' ')"
    return df.withColumn("shingles", F.expr(SHINGLE_EXPR.format(toks=toks, n=n)))


def hashed_tokens(
    df: DataFrame, text_col: str, lower: bool = False, out_col: str = "__th"
) -> DataFrame:
    """Replace ``text_col`` with an array of per-token xxhash64 values,
    materialized behind a repartition barrier. The barrier is load-
    bearing: without it CollapseProject inlines the tokenize+hash
    transform into every downstream lambda that references the array —
    an n-times recompute for an n-window consumer. The exchange ships
    ~8 bytes/token (about the text's own size) round-robin, before any
    content-keyed shuffle. Shared by the window-hash explode and the
    repetition signals so the barrier trick lives in one place."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    src = f"lower({text_col})" if lower else text_col
    return (
        df.withColumn(
            out_col, F.expr(f"transform(split({src}, ' '), t -> xxhash64(t))")
        )
        .drop(text_col)
        .repartition(n_part)
    )


def explode_window_hashes(
    df: DataFrame, text_col: str, n: int, out_col: str = "win_hash"
) -> DataFrame:
    """One row per distinct ``n``-token-window 64-bit hash — the
    numeric twin of :func:`with_shingles` + explode for consumers that
    only compare windows: tokens hash once behind a CollapseProject
    barrier (without it the per-token hashing inlines into the window
    lambda, an n-times recompute), each window is xxhash64 over its
    token-hash slice, and no window string is ever built (~4x cheaper
    at n=16; the ~rows²/2⁶⁴ collision odds are the accepted trade).

    The explode is applied to the window *expression*, deliberately
    never to a named column: InferFiltersFromGenerate only fires on
    attribute generators, and the non-empty filter it infers pushes
    below the barrier where it re-derives the entire
    tokenize+hash+window chain at the scan — measured 4x wall-clock on
    this operator's consumers.

    Replaces ``text_col`` with ``out_col``; rows shorter than ``n``
    tokens produce no output rows."""
    th = hashed_tokens(df, text_col)
    wins = (
        f"CASE WHEN size(__th) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size(__th) - {n} + 1), "
        f"i -> xxhash64(slice(__th, i, {n})))) END"
    )
    other = [c for c in th.columns if c != "__th"]
    return th.select(*other, F.explode(F.expr(wins)).alias(out_col))


# --- exact ----------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: md5-digest group-by keeping the minimum id
    as the canonical representative. Only the 32-hex digest shuffles."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- exact n-gram Jaccard similarity join ---------------------------------


def _posting_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared posting-list candidate machinery for the exact set-
    similarity joins: returns ``(pairs, sizes)`` where ``pairs`` =
    (i, j, common) for every unordered doc pair sharing ≥1 shingle and
    ``sizes`` = (doc, n_sh) post-pruning set sizes.

    ONE content shuffle: group (doc, shingle) by shingle into a sorted
    posting list; the shingle string dies at the aggregation. The
    shingle expression is exploded INLINE (see ngram_jaccard_pairs'
    docstring for the InferFiltersFromGenerate hazard that rules out a
    named column). Pair enumeration is a TWO-LEVEL explode, not one
    flattened C(df,2) array: a hot shingle in N docs would otherwise
    build ~N²/2 structs inside a single row — a hard failure (2³¹
    array-element cap / executor OOM) no parallelism can spread.
    Anchoring on posexplode bounds every intermediate row at O(df)
    elements. Total work is still C(df,2) per posting list — at corpus
    scale set ``max_df`` (stop-shingle pruning) to bound it."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    shingle_expr = SHINGLE_EXPR.format(toks=f"split({text_col}, ' ')", n=n)
    per_shingle = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(n_part)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.expr(shingle_expr)).alias("shingle"),
        )
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .select("docs")
    )
    if max_df is not None:
        per_shingle = per_shingle.filter(F.size("docs") <= max_df)
    sizes = (
        per_shingle.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pairs = (
        per_shingle.filter(F.size("docs") >= 2)
        .select(F.col("docs"), F.posexplode("docs").alias("pos", "x"))
        .select(
            F.col("x").alias("i"),
            F.explode(
                F.expr("slice(docs, pos + 2, size(docs) - pos - 1)")
            ).alias("j"),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return pairs, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, via the inverted
    index. ``max_df`` drops shingles appearing in more than max_df docs
    (stop-shingle pruning — at corpus scale a shingle in 10⁶ docs would
    generate 10¹² candidate pairs; dropping it loses only pairs whose
    entire similarity rides on ubiquitous text). The DEFAULT is 1000:
    per-list pair enumeration is then bounded at C(1000, 2) ≈ 5·10⁵
    rows per stop-shingle, so no corpus can make the named operator
    quadratic by accident. Pass ``max_df=None`` to opt into the
    unpruned exact join — documented as C(df, 2) WORK per hot shingle
    (rows stay O(df)-bounded, but a 10⁶-doc shingle still costs 10¹²
    counted pairs); when you need exact no-loss pairs at scale, use
    :func:`prefix_filter_pairs` instead, whose SSJoin/PPJoin prefix
    ordering eliminates ubiquitous shingles without dropping pairs.

    ONE content shuffle: group (doc, shingle) by shingle into a sorted
    posting list, then enumerate each list's C(df, 2) pairs in-place
    (same pair rows the old shingle self-join produced, without
    shuffling the shingle STRING twice through join machinery — a
    same-session A/B at sf0.1 measured 3.2× faster cold). The max_df
    prune folds into the aggregation as a size filter (the old
    broadcast anti-join pass disappears), doc set-sizes re-derive from
    the pruned posting lists, and both consumers share the one
    exchange via AQE ReuseExchange — nothing is persisted, so no
    executor-memory leak survives the call.

    The shingle expression is exploded INLINE rather than through a
    named column: explode over a lower-Project column lets Catalyst's
    InferFiltersFromGenerate push a ``size(shingles) > 0`` filter BELOW
    the repartition exchange, re-evaluating the whole shingle transform
    (twice) in the narrow pre-shuffle stage — on the single-file
    fixture that serializes the most expensive expression of the query
    onto one task (measured 2.9 s vs 0.4 s at sf0.1; at corpus scale it
    still triples the transform work)."""
    pairs, sizes = _posting_pairs(df, text_col, id_col, n, max_df)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("i") == F.col("sa.doc"))
        .join(sb, F.col("j") == F.col("sb.doc"))
        .select(
            "i",
            "j",
            (F.col("common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Directed containment near-dup pairs: for every ordered doc pair,
    ``containment(src → dst) = |S_src ∩ S_dst| / |S_src|`` over distinct
    word ``n``-gram shingle sets, kept when ≥ ``threshold``.

    Containment is the asymmetric complement of Jaccard: a short doc
    quoted wholesale inside a long one scores containment ≈ 1 while its
    Jaccard stays tiny (the union is dominated by the long doc) — which
    is exactly the quote/boilerplate/subset-dup class Jaccard dedup
    misses. Same inverted-index topology as :func:`ngram_jaccard_pairs`
    (ONE content shuffle into posting lists, two-level explode bounding
    every intermediate row at O(df), ``max_df`` stop-shingle pruning ON
    by default at 1000 — ``None`` opts into C(df, 2) work per hot
    shingle); each undirected candidate then fans out into its two
    directed rows against the per-doc set sizes.

    Scores are 1e-6-floor-bucketed (``containment6``) so the ≥ filter
    and downstream ordering are deterministic across engines.

    Returns ``(src, dst, common, containment6)``.
    """
    pairs, sizes = _posting_pairs(df, text_col, id_col, n, max_df)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    directed = (
        pairs.join(sa, F.col("i") == F.col("sa.doc"))
        .join(sb, F.col("j") == F.col("sb.doc"))
        .select(
            "common",
            F.explode(
                F.array(
                    F.struct(
                        F.col("i").alias("src"),
                        F.col("j").alias("dst"),
                        F.col("sa.n_sh").alias("n_src"),
                    ),
                    F.struct(
                        F.col("j").alias("src"),
                        F.col("i").alias("dst"),
                        F.col("sb.n_sh").alias("n_src"),
                    ),
                )
            ).alias("d"),
        )
        .select(
            F.col("d.src").alias("src"),
            F.col("d.dst").alias("dst"),
            "common",
            F.floor(F.col("common") * 1000000.0 / F.col("d.n_src"))
            .cast("long")
            .alias("containment6"),
        )
    )
    return directed.filter(F.col("containment6") >= int(threshold * 1_000_000))


# --- MinHash + LSH --------------------------------------------------------


def minhash_signatures(df: DataFrame, text_col: str, id_col: str, k: int = 64) -> DataFrame:
    """K-permutation MinHash signature per document, no shuffle.

    Each shingle *string* is hashed once to a 64-bit value; the k
    permutations re-hash that fixed-width long (``xxhash64(h, s)``) —
    k cheap 8-byte hashes per shingle instead of k string hashes, and
    each seed is a genuinely independent ordering (an affine ``h1+s·h2``
    mix is NOT: the additive term can't reorder the high bits, which
    collapses band independence). The shingle array is built in its own
    projection with an optimizer barrier before the signature lambda:
    without the barrier, CollapseProject inlines shingle construction
    into every one of the k interpreted HOF lambdas — a silent k×
    recompute (observed 30× wall-clock at sf0.1).

    Docs with no shingles (< n tokens) are dropped.
    """
    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    # Repartition first: a small single-file corpus otherwise plans one
    # task for this embarrassingly parallel per-doc computation.
    # The no-shingles drop (< n tokens ⇔ empty shingle array) is
    # expressed as a CHEAP token-count predicate on the raw text, not
    # `size(shingles) > 0`: a filter on the computed array pushes below
    # the repartition with the whole shingle expression substituted in,
    # re-evaluating it on the narrow pre-shuffle stage. The token-count
    # form pushes to the scan harmlessly and prunes before the shuffle.
    sh = with_shingles(
        df.select(F.col(id_col), F.col(text_col))
        .filter(F.size(F.split(F.col(text_col), " ")) >= 3)
        .repartition(n_part),
        text_col,
    )
    hashed = sh.select(
        F.col(id_col),
        "shingles",
        F.expr("transform(shingles, x -> xxhash64(x))").alias("hs"),
    )
    # Barrier: stops CollapseProject from inlining `hs` into the k
    # signature lambdas (localCheckpoint would also work but costs I/O).
    hashed = hashed.repartition(n_part)
    return hashed.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(0, {k - 1}), "
            "s -> array_min(transform(hs, h -> xxhash64(h, s))))"
        ).alias("sig"),
        "shingles",
    )


def _band_buckets(sigs: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """(doc, band, bh) rows from MinHash signatures — the LSH banding
    shared by the batch (minhash_lsh_pairs) and rolling-ingest
    (incremental_dedup) paths, so the band math lives once."""
    if bands < 1 or bands > k or k % bands:
        # bands > k would make every band hash the EMPTY slice (one
        # global bucket → the O(n²) cross product LSH exists to avoid);
        # a non-dividing bands silently ignores the signature tail —
        # both are configuration bugs, fail loudly.
        raise ValueError(
            f"bands must divide the signature length: k={k}, bands={bands}"
        )
    r = k // bands
    return sigs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b as band, xxhash64(slice(sig, b*{r}+1, {r})) as bh))"
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bh")


def _jaccard_verify(
    cand: DataFrame, sigs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (i, j) pairs against the
    persisted signature shingles; keeps rows with jaccard >= threshold
    plus whatever extra columns ``cand`` carried."""
    sh = sigs.select(F.col(id_col).alias("doc"), "shingles")
    si = sh.alias("si")
    sj = sh.alias("sj")
    return (
        cand.join(si, F.col("i") == F.col("si.doc"))
        .join(sj, F.col("j") == F.col("sj.doc"))
        .withColumn(
            "common",
            F.size(F.array_intersect(F.col("si.shingles"), F.col("sj.shingles"))),
        )
        .withColumn(
            "jaccard",
            F.col("common")
            / (
                F.size(F.col("si.shingles"))
                + F.size(F.col("sj.shingles"))
                - F.col("common")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, verified with exact
    Jaccard. b=16 bands × r=4 rows ⇒ candidate-probability knee around
    j ≈ (1/b)^(1/r) ≈ 0.5.

    Scale shape: signatures are map-side; the only shuffles are the
    band-bucket exchange (key = (band, bandhash), value = doc id) and
    the candidate verification. No stage is quadratic in corpus size —
    only in per-bucket occupancy."""
    # Signatures feed three consumers (both sides of the bucket
    # self-join + exact-Jaccard verification); persist so the per-doc
    # hashing runs once. At corpus scale use persist(DISK_ONLY) or a
    # checkpoint table instead of memory.
    sigs = minhash_signatures(df, text_col, id_col, k).persist()
    buckets = _band_buckets(sigs, id_col, k, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("i"), F.col("b.doc").alias("j"))
        .distinct()
    )
    return _jaccard_verify(cand, sigs, id_col, threshold).select("i", "j", "jaccard")


# --- SimHash --------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """SimHash sketch per document: each token votes ±1 on every bit of
    its hash; the sketch keeps the sign. Per-row expressions, zero
    shuffle (the repartitions below are optimizer barriers /
    parallelism spreads, not key exchanges).

    ``hash_fn="xxhash64"`` (default, 64-bit sketch) is the fast scale
    path. ``hash_fn="md5"`` derives a 60-bit token hash from the first
    15 hex chars of md5 — slower, but byte-replayable in any engine
    with md5 (DuckDB included), which is what lets the catalog entry
    carry a full value-hash differential oracle instead of a rows-only
    check. Same algorithm either way; only the token-hash family and
    sketch width (60 vs 64 bits) differ.

    Tokens are hashed once into ``th``; the bit-votes fold over the
    cached hashes. Barriers between the projections stop CollapseProject
    from inlining tokenize+hash into all interpreted vote lambdas.
    """
    if hash_fn == "md5":
        n_bits = 60
        th = (
            f"transform(split({text_col}, ' '), "
            "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
        )
    elif hash_fn == "xxhash64":
        n_bits = 64
        th = f"transform(split({text_col}, ' '), t -> xxhash64(t))"
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    hashed = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(n_part)
        .select(F.col(id_col), F.expr(th).alias("th"))
        .repartition(n_part)
    )
    votes = (
        f"transform(sequence(0, {n_bits - 1}), j -> aggregate(th, 0, "
        "(acc, h) -> acc + CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    pack = (
        f"aggregate(sequence(0, {n_bits - 1}), 0L, "
        "(acc, j) -> acc | (CASE WHEN votes[j] > 0 THEN shiftleft(1L, j) ELSE 0L END))"
    )
    return (
        hashed.select(F.col(id_col), F.expr(votes).alias("votes"))
        .repartition(n_part)
        .select(F.col(id_col), F.expr(pack).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.
    Banded on four equal-width sketch chunks (pigeonhole: distance ≤ 3
    ⇒ at least one of 4 chunks equal — EXACT recall, not
    probabilistic), so candidate generation joins on a small chunk key
    instead of all-pairs. With ``hash_fn="md5"`` (60-bit sketch, 15-bit
    chunks) the whole output is replayable by a brute-force SQL oracle;
    the default 64-bit xxhash64 sketch uses 16-bit chunks."""
    n_bits = 60 if hash_fn == "md5" else 64
    # Sketches feed both sides of the chunk self-join: compute once.
    sh = (
        simhash(df, text_col, id_col, hash_fn=hash_fn)
        .select(F.col(id_col).alias("doc"), "simhash")
        .persist()
    )
    return hamming_pairs(sh, "doc", "simhash", max_hamming, n_bits)


def hamming_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """All (i, j, hamming) pairs of rows whose ``hash_col`` sketches
    differ in ≤ ``max_hamming`` bits, banded on four equal-width chunks
    (pigeonhole: distance ≤ 3 ⇒ at least one of 4 chunks equal — EXACT
    recall, not probabilistic), so candidate generation is a small-key
    equi-join instead of all-pairs. Shared by SimHash text near-dup and
    perceptual-hash image near-dup."""
    if max_hamming > 3:
        # 4 chunks only pigeonhole distances ≤ 3; silently losing
        # recall beyond that is a configuration bug — fail loudly
        raise ValueError(
            f"4-chunk banding guarantees recall only for max_hamming <= 3 "
            f"(got {max_hamming})"
        )
    cw = n_bits // 4  # chunk width
    chunks = hashes.select(
        F.col(id_col).alias("doc"),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.expr(
                "transform(sequence(0, 3), c -> struct(c as chunk, "
                f"shiftright({hash_col}, c * {cw}) & {(1 << cw) - 1} as ck))"
            )
        ).alias("cc"),
    ).select("doc", "__h", "cc.chunk", "cc.ck")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("i"),
            F.col("b.doc").alias("j"),
            F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- duplicate clusters ----------------------------------------------------


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: every node gets
    ``comp`` = the minimum node id reachable through the edge set (the
    canonical representative — keep one row per comp to dedupe).
    ``nodes``: column ``id``; ``edges``: columns ``i``, ``j``.

    Two execution paths, chosen by edge count:

    * **driver union-find** (≤ ``driver_threshold`` edges): the dup
      graph is the *output* of near-dup detection — usually minuscule
      next to the corpus. Union-find on the driver + a broadcast
      mapping join beats iterative propagation by ~10× here (each
      Spark iteration costs seconds of fixed latency regardless of
      how few labels change).
    * **iterative min-label propagation** (above threshold): rounds of
      label joins across edges until fixpoint or ``max_iter``; rounds
      needed = graph diameter (shallow for dup clusters). The
      unbounded-scale path.
    """
    spark = nodes.sparkSession
    # Materialize once: the edge set is typically the output of an
    # expensive similarity join, and this function consumes it with
    # multiple actions (count + collect / iterative joins).
    edges = edges.persist()
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in edges.select("i", "j").collect():
            ri, rj = find(r.i), find(r.j)
            if ri != rj:
                # union by min id so the root IS the canonical min
                lo, hi = (ri, rj) if ri < rj else (rj, ri)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in list(parent)]
        edges.unpersist()  # fully consumed (count + collect) above
        if not mapping:
            return nodes.select(F.col("id"), F.col("id").alias("comp"))
        from pyspark.sql.types import StructField, StructType

        # Schema follows the node id's actual type (string doc ids,
        # ints, …) — a hardcoded "id long" would break non-long keys.
        id_type = nodes.schema["id"].dataType
        map_df = spark.createDataFrame(
            mapping,
            StructType(
                [StructField("id", id_type), StructField("__root", id_type)]
            ),
        )
        return nodes.join(F.broadcast(map_df), "id", "left").select(
            "id", F.coalesce(F.col("__root"), F.col("id")).alias("comp")
        )
    sym = (
        edges.select(F.col("i").alias("a"), F.col("j").alias("b"))
        .unionByName(edges.select(F.col("j").alias("a"), F.col("i").alias("b")))
        .distinct()
        .persist()
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("comp")).persist()
    changed = 1
    for _ in range(max_iter):
        # neighbor labels: for node b, the labels of all its neighbors a
        neighbor = (
            sym.join(labels, sym["a"] == labels["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels = labels.join(neighbor, "id", "left").select(
            "id",
            F.col("comp").alias("__old"),
            F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias(
                "comp"
            ),
        )
        # Pointer jumping: comp <- label(comp). Neighbor-min alone
        # needs diameter iterations (a 22-long duplicate chain would
        # exhaust max_iter); the jump halves the remaining distance
        # each round, so max_iter=20 covers diameters ~2^20.
        jump = new_labels.select(
            F.col("id").alias("__jid"), F.col("comp").alias("__jcomp")
        )
        new_labels = new_labels.join(
            jump, new_labels["comp"] == jump["__jid"], "left"
        ).select(
            "id", "__old", F.coalesce("__jcomp", "comp").alias("comp")
        )
        # Break lineage each round: without this, iteration i's plan
        # contains all i-1 previous joins (classic iterative-algorithm
        # plan blowup). materialize_once upgrades to the RELIABLE
        # checkpoint when the session has a checkpoint dir (r15 —
        # executor-loss-survivable at cluster scale).
        from .checkpointing import materialize_once

        new_labels = materialize_once(new_labels)
        # Convergence probe reads the CHECKPOINTED rows (the old label
        # rides along as __old), so it costs a scan, not the extra
        # labels-to-labels join a separate old-vs-new compare would.
        # A full count, not limit(1): Spark names each limit's
        # generated counter from a JVM-wide sequence, so a limit probe
        # is new code that recompiles on every iteration and run.
        changed = new_labels.filter(F.col("comp") != F.col("__old")).count()
        labels.unpersist()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    if changed != 0:
        # returning non-converged labels would silently split true
        # clusters (several is_canonical rows per duplicate family)
        raise ValueError(
            f"connected_components did not converge in {max_iter} "
            "iterations — raise max_iter (pointer-jumping makes each "
            "iteration halve the remaining label distance)"
        )
    return labels


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Full dedup resolution: documents + near-dup pairs → one row per
    document with its cluster representative (``comp``) and a
    ``is_canonical`` flag (the min-id member survives; the rest are the
    rows a training-data pipeline drops)."""
    nodes = df.select(F.col(id_col).alias("id"))
    cc = connected_components(nodes, pairs)
    return cc.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


def canonical_by_score(
    clustered: DataFrame, scores: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Re-select each cluster's canonical member by QUALITY instead of
    min-id: the highest-``score_col`` member survives (id ascending as
    the deterministic tiebreak). ``clustered`` is ``dedup_clusters``
    output; ``scores`` maps id → score (e.g. a text-quality signal —
    keep the best-written copy of each near-dup family, not the one
    with the smallest crawl id).

    One shuffle on cluster_id; clusters are near-dup families (small),
    so the per-partition window never sees a pathological key unless
    the corpus is one giant duplicate class — which max_df / LSH
    thresholds bound upstream.

    ``scores`` may be PARTIAL (a quality signal that skipped short
    docs, say): unscored members are kept and ranked behind every
    scored one (NULL score sorts last, id tiebreak) — an inner join
    here would silently DELETE them from the dedup resolution, and if
    a cluster's only scored member were its worst copy, promote it
    while the unscored best copy vanished."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last(score_col), F.asc(id_col)
    )
    return (
        clustered.join(
            scores.select(F.col(id_col), F.col(score_col)), id_col, "left"
        )
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("is_canonical", F.col("__rk") == 1)
        .drop("__rk")
    )


# --- embedding cosine near-dup --------------------------------------------


def dot_expr(a: str, b: str) -> F.Column:
    """Sequential-fold dot product of two array columns in double."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> F.Column:
    """Sequential-fold L2 norm of an array column in double."""
    return F.expr(
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def cosine_expr(a: str, b: str) -> F.Column:
    """Exact cosine between two array<float> columns, folded
    sequentially in double (deterministic element order — the same fold
    DuckDB's list_cosine_similarity performs, so oracle-comparable).

    Pair-join rescore paths should NOT call this per pair: the two
    norms are per-VECTOR quantities, so computing them in the vector
    projections BEFORE the join (norm_expr) and combining
    ``dot / (na * nb)`` after cuts the per-pair folds 3 → 1 with
    bit-identical double arithmetic (same values, same operation
    order), keeping every floor-bucketed oracle exact."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact near-dup pairs by embedding cosine ≥ threshold — the
    all-pairs verifier for the LSH/IVF paths in operators.similarity
    (which are what run at 100 TB; this op is for bounded samples).

    Executed as blocked matrix products: rows are unit-normalized once,
    the corpus matrix is a Spark broadcast (numpy), and each Arrow
    batch of rows does one BLAS matmul against it — ~25× faster than
    a pair-join with interpreted per-element folds (58 s → ~2 s for
    5k×64 at sf0.1). Work is still O(n²·d) by definition; partitions
    split the row dimension so the cluster shares it.
    """
    import numpy as np

    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    rows = df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v")).repartition(
        n_part
    )
    # Bounded-sample verifier: the corpus matrix must fit the driver.
    # head(max_rows+1) doubles as the guard AND the collect — no extra
    # count action, and an oversized table can never be silently pulled.
    mat_rows = rows.head(max_rows + 1)
    if len(mat_rows) > max_rows:
        raise ValueError(
            f"embedding_cosine_pairs is the bounded all-pairs verifier "
            f"(> {max_rows} rows collected to the driver); use the scale "
            f"paths operators.similarity.ann_lsh / ann_ivf instead, or "
            f"raise max_rows explicitly for a bigger sample"
        )
    ids = np.array([r.i for r in mat_rows], dtype=np.int64)
    m = np.array([r.v for r in mat_rows], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(m)

    def block(it):
        import pandas as pd

        nids, nmat = b_ids.value, b_mat.value
        for pdf in it:
            a = np.array(list(pdf["v"]), dtype=np.float64)
            a /= np.linalg.norm(a, axis=1, keepdims=True)
            sims = a @ nmat.T  # (batch, corpus)
            ai = pdf["i"].to_numpy()
            out_i, out_j = [], []
            for r in range(sims.shape[0]):
                hits = nids[(sims[r] >= threshold) & (ai[r] < nids)]
                out_i.extend([ai[r]] * len(hits))
                out_j.extend(hits.tolist())
            yield pd.DataFrame({"i": out_i, "j": out_j})

    return rows.mapInPandas(block, "i long, j long")


def incremental_dedup(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus and itself — the
    production shape for rolling ingest (daily crawl increments) —
    WITHOUT re-pairing the corpus: corpus×corpus candidates are dropped
    at the band-bucket join, before exact verification, so per-increment
    cost is (increment buckets × bucket occupancy), independent of how
    many corpus-only near-dup pairs exist. In production the corpus
    side's signatures/buckets are persisted append-only artifacts;
    here they derive inline from the corpus frame.

    Returns one row per increment doc: (id, dup_of, keep) where dup_of
    is the smallest-id directly-matching partner (any corpus doc, or an
    earlier increment doc) and keep = no match. Direct matches only —
    transitive chains are ``dedup_clusters``' job."""
    tagged = (
        corpus.select(F.col(id_col), F.col(text_col))
        .withColumn("__new", F.lit(False))
        .unionByName(
            increment.select(F.col(id_col), F.col(text_col)).withColumn(
                "__new", F.lit(True)
            )
        )
    )
    sigs = minhash_signatures(tagged, text_col, id_col, k).persist()
    newness = tagged.select(F.col(id_col).alias("doc"), "__new")
    buckets = _band_buckets(sigs, id_col, k, bands).join(newness, "doc")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc"))
            # the incremental pruning: at least one side is new
            & (F.col("a.__new") | F.col("b.__new")),
        )
        .select(
            F.col("a.doc").alias("i"),
            F.col("b.doc").alias("j"),
            F.col("a.__new").alias("i_new"),
            F.col("b.__new").alias("j_new"),
        )
        .distinct()
    )
    pairs = _jaccard_verify(cand, sigs, id_col, threshold).select(
        "i", "j", "i_new", "j_new"
    )
    partners = (
        pairs.filter(F.col("j_new"))
        .select(F.col("j").alias("new_id"), F.col("i").alias("partner"))
        .unionByName(
            pairs.filter(F.col("i_new") & ~F.col("j_new")).select(
                F.col("i").alias("new_id"), F.col("j").alias("partner")
            )
        )
        .groupBy("new_id")
        .agg(F.min("partner").alias("dup_of"))
    )
    return (
        increment.select(F.col(id_col))
        .join(partners, F.col(id_col) == F.col("new_id"), "left")
        .select(
            F.col(id_col),
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("keep"),
        )
    )


# --- exact substring (token-window) dedup ---------------------------------


def window_exact_dedup(
    docs: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Exact substring dedup: flag documents that share any verbatim
    ``k``-token window with an earlier (smaller-id) document.

    The window-level analog of suffix-array substring dedup (the
    "Deduplicating Training Data Makes Language Models Better" recipe):
    a copied span of >= k tokens always yields at least one shared
    window, while per-window exactness keeps false positives at zero
    (unlike MinHash, which bounds Jaccard, not substring overlap).

    Scale shape: distinct windows per doc are built map-side
    (explode_window_hashes), then only ``(xxhash64(window), id)`` pairs
    — 16 bytes a row, never the text — feed two aggregations. The owner
    is a groupBy ``min``, NOT a partition window: min partial-aggregates
    map-side, so a boilerplate window shared by 10^7 docs (license
    headers, nav text) collapses to one row per task before the
    shuffle; a window-function min would funnel every copy of the hot
    hash into one task with no defense. Per-doc dup counting never
    joins the owner table back against the window stream (the r4 form;
    that probe join was the whole stream through a second hash join —
    +23 % at sf0.1 and the dominant shuffle at scale): because
    ``owner(wh) <= id`` for every (wh, id) pair, ``n_dup_windows =
    n_windows − #{wh : owner(wh) = id}``, and the owned-count is the
    owner table's own groupBy-count — so the only join is the
    doc-cardinality rollup join on id. Both branches hang off the
    hashed-token round-robin barrier, which AQE ReuseExchange computes
    once (the text is scanned and tokenized a single time). A 64-bit
    hash collision between distinct window strings (~n^2 / 2^64) is
    the accepted trade for not shuffling window strings.

    Returns one row per input doc: ``(id, n_windows, n_dup_windows,
    is_dup)``; docs shorter than ``k`` tokens have zero windows and are
    never flagged.
    """
    w = explode_window_hashes(
        docs.select(F.col(id_col).alias("__id"), text_col), text_col, k, "__wh"
    )
    owned = (
        w.groupBy("__wh")
        .agg(F.min("__id").alias("__owner"))
        .groupBy("__owner")
        .agg(F.count(F.lit(1)).alias("n_owned"))
    )
    per_doc = (
        w.groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_windows"))
        .join(owned, F.col("__id") == F.col("__owner"), "left")
        .select(
            "__id",
            "n_windows",
            (F.col("n_windows") - F.coalesce("n_owned", F.lit(0))).alias(
                "n_dup_windows"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            (F.coalesce("n_dup_windows", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def line_dedup_global(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    segment_tokens: int = 8,
    key_mode: str = "hash",
) -> DataFrame:
    """C4-style global line dedup: drop every *segment* that occurs
    more than once anywhere in the corpus, keeping exactly the first
    occurrence (lowest ``(doc, position)``), then reassemble each
    document's surviving segments in original order.

    This is the C4 recipe's corpus-level span dedup (boilerplate nav
    text, cookie banners, license blocks vanish from all but one doc)
    as pure DataFrame algebra. A production corpus segments on real
    newlines; this fixture's text has none, so segments are
    non-overlapping ``segment_tokens``-token groups — the op is
    separator-agnostic (the segment expression is the only line that
    changes).

    Scale shape (default ``key_mode="hash"``): document TEXT never
    shuffles and the segment stream is consumed exactly ONCE. Segments
    hash map-side to a (xxhash64, salted-xxhash64) 128-bit composite;
    ownership is a partial-aggregating groupBy ``min`` of the
    (doc, position) struct over those 16-byte keys (a boilerplate
    segment shared by 10^7 docs collapses to one row per task before
    the shuffle — same owner design as window_exact_dedup). The keeper
    keys that fall out of that aggregation ARE the per-doc kept
    positions — no join back against the segment stream (the probe
    join re-shuffled the whole stream; measured +0.65 s at sf0.1):
    they roll up to an int array per doc, and ``clean_text`` is
    rebuilt map-side from the original text column with an
    index-aware ``filter``. A 128-bit collision between distinct
    segments (~n²/2¹²⁸) is the accepted trade.

    ``key_mode="text"`` keys ownership on the segment string instead —
    bit-exact by construction at any adversarial input, at the price
    of shuffling the corpus text once; it is the differential-oracle
    reference form and the fallback if a corpus is ever suspected of
    engineered hash collisions. Both modes return identical
    ``(id, clean_text, n_kept, n_dropped)`` rows absent collisions
    (property-tested equal in tests/test_dedup.py).
    """
    n = segment_tokens
    # Inline split (no hashed_tokens-style barrier): measured A/B at
    # sf0.1 shows Spark 4's subexpression elimination already evaluates
    # the tokenizer once per doc inside this transform, and adding a
    # materialization exchange of the full text costs ~0.25 s more than
    # it saves. (Contrast hashed_tokens, where the consumer is N
    # downstream lambdas across separate projections.)
    toks = f"split({text_col}, ' ')"
    seg_expr = (
        f"transform(sequence(0, greatest(1, CAST(ceil(size({toks}) / {n}.0) "
        f"AS INT)) - 1), i -> concat_ws(' ', slice({toks}, i * {n} + 1, {n})))"
    )
    if key_mode == "hash":
        # Argument ORDER matters for independence: Spark's multi-arg
        # xxhash64 chains the running hash as the seed, so
        # xxhash64(s, 1) = XXH64(1, seed=xxhash64(s)) — a pure function
        # of the first hash, adding zero collision resistance. Hashing
        # the salt FIRST (xxhash64(1, s) = XXH64(s, seed=XXH64(1, 42)))
        # hashes the string under a different fixed seed, giving a
        # genuinely independent second 64 bits.
        hseg_expr = (
            f"transform({seg_expr}, "
            "s -> struct(xxhash64(s) AS h1, xxhash64(1, s) AS h2))"
        )
        segs = docs.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.expr(hseg_expr)).alias("__pos", "__h"),
        ).withColumn("__key", F.struct("__id", "__pos"))
        kept = (
            segs.groupBy("__h")
            .agg(F.min("__key").alias("__keep_key"))
            .groupBy(F.col("__keep_key.__id").alias("__id"))
            .agg(F.collect_list("__keep_key.__pos").alias("__keep_pos"))
        )
        keep_arr = "coalesce(__keep_pos, array())"
        return (
            docs.join(kept, F.col(id_col) == F.col("__id"), "left")
            .select(
                F.col(id_col),
                F.expr(
                    f"concat_ws(' ', filter({seg_expr}, "
                    f"(s, i) -> array_contains({keep_arr}, i)))"
                ).alias("clean_text"),
                F.expr(f"CAST(size({keep_arr}) AS BIGINT)").alias("n_kept"),
                F.expr(
                    f"CAST(size({seg_expr}) - size({keep_arr}) AS BIGINT)"
                ).alias("n_dropped"),
            )
        )
    if key_mode != "text":
        raise ValueError(f"key_mode must be 'hash' or 'text', got {key_mode!r}")
    segs = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.expr(seg_expr)).alias("__pos", "__seg"),
    ).withColumn("__key", F.struct("__id", "__pos"))
    # struct min is lexicographic (doc, then position) and still a
    # partial-aggregating groupBy min — unlike a packed bigint key it
    # cannot collide for any document length or id range.
    owner = segs.groupBy("__seg").agg(F.min("__key").alias("__keep_key"))
    flagged = segs.join(owner, "__seg").withColumn(
        "keep", F.col("__key") == F.col("__keep_key")
    )
    return flagged.groupBy(F.col("__id").alias(id_col)).agg(
        F.expr(
            "concat_ws(' ', transform(filter(array_sort("
            "collect_list(struct(__pos, keep, __seg))), s -> s.keep), "
            "s -> s.__seg))"
        ).alias("clean_text"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )


def substring_span_rewrite(
    docs: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Exact substring dedup, REWRITE form (the removal half of the
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr recipe): every verbatim ``k``-token span that occurs
    more than once in the corpus survives only at its first
    ``(doc, position)`` occurrence; every other occurrence's tokens are
    cut from their documents and each document is reassembled from its
    surviving tokens in order.

    Semantics (the exact spec the differential oracle replays): a token
    is removed iff it is covered by at least one ``k``-token window
    whose content also occurs at a strictly smaller ``(doc, position)``
    somewhere in the corpus. Because OVERLAPPING windows are used
    (unlike :func:`line_dedup_global`'s non-overlapping segments), a
    copied span of length L >= k yields L-k+1 duplicated windows whose
    token union is exactly the L copied tokens — the cut is
    boundary-precise regardless of where the copy lands, which is the
    property the suffix-array recipe buys and segment dedup cannot.
    Intra-document repetition is handled by the same rule (the later
    in-doc occurrence is cut). :func:`window_exact_dedup` is the
    flag-only twin; this one rewrites the text.

    Scale shape: document text never shuffles on content. Tokens hash
    once behind the :func:`hashed_tokens` barrier; the window stream is
    ``(id, pos, h1, h2)`` — 24 bytes a row, a 128-bit salted-xxhash64
    composite per window, no window string ever built (~rows²/2¹²⁸
    collision odds are the accepted trade; the oracle keys on the gram
    string and is the collision-free reference). Ownership is a
    partial-aggregating groupBy ``min`` over (h1, h2) — a boilerplate
    window shared by 10^7 docs collapses to one row per task before the
    shuffle — and only windows with count > 1 join back against the
    stream (both sides already hash-partitioned by (h1, h2), so AQE
    reuses the exchange and the join adds no shuffle; the dup side is
    usually small enough to broadcast and AQE may do so). Removal spans
    roll up to one sorted int array per doc, overlapping spans merge
    into disjoint intervals with a single ``aggregate`` fold (a fully
    duplicated doc collapses to ONE interval, so the rebuild filter's
    ``exists`` probe stays O(tokens × merged-intervals), not
    O(tokens × windows)), and the rebuild is map-side on the original
    text after one id-keyed join of the interval arrays.

    Returns one row per input doc: ``(id, clean_text, n_tokens,
    n_removed)``; docs shorter than ``k`` tokens pass through unchanged.
    """
    th = hashed_tokens(
        docs.select(F.col(id_col).alias("__id"), text_col), text_col
    )
    # Positions are 1-based (sequence(1, ..)) to mirror SQL slice
    # semantics; the salt-FIRST second hash is the independence rule
    # documented at line_dedup_global.
    wins = (
        f"CASE WHEN size(__th) < {k} THEN "
        "CAST(array() AS array<struct<p:int,h1:bigint,h2:bigint>>) "
        f"ELSE transform(sequence(1, size(__th) - {k} + 1), "
        f"i -> struct(i AS p, xxhash64(slice(__th, i, {k})) AS h1, "
        f"xxhash64(1, slice(__th, i, {k})) AS h2)) END"
    )
    # Explode the expression, never a named column (the
    # InferFiltersFromGenerate re-derivation trap documented at
    # explode_window_hashes).
    w = th.select("__id", F.explode(F.expr(wins)).alias("__w")).select(
        "__id", "__w.p", "__w.h1", "__w.h2"
    )
    dup = (
        w.groupBy("h1", "h2")
        .agg(
            F.min(F.struct("__id", "p")).alias("__keep"),
            F.count(F.lit(1)).alias("__c"),
        )
        .filter(F.col("__c") > 1)
        .select("h1", "h2", "__keep")
    )
    spans = (
        w.join(dup, ["h1", "h2"])
        .where(
            ~(
                (F.col("__id") == F.col("__keep.__id"))
                & (F.col("p") == F.col("__keep.p"))
            )
        )
        .select("__id", "p")
    )
    rem = spans.groupBy("__id").agg(
        F.sort_array(F.collect_list("p")).alias("__starts")
    )
    # Fold sorted span starts into disjoint half-open [s, e) intervals:
    # starts are ascending, so each new span either extends the last
    # interval (x <= last.e, covering adjacency) or opens a new one.
    merged = (
        "aggregate(coalesce(__starts, CAST(array() AS array<int>)), "
        "CAST(array() AS array<struct<s:int,e:int>>), "
        "(acc, x) -> CASE WHEN size(acc) > 0 AND x <= element_at(acc, -1).e "
        f"THEN concat(slice(acc, 1, size(acc) - 1), "
        f"array(struct(element_at(acc, -1).s AS s, x + {k} AS e))) "
        f"ELSE concat(acc, array(struct(x AS s, x + {k} AS e))) END)"
    )
    toks = f"split({text_col}, ' ')"
    kept = (
        f"filter({toks}, (t, i) -> "
        "NOT exists(__iv, iv -> i + 1 >= iv.s AND i + 1 < iv.e))"
    )
    return (
        docs.join(rem, docs[id_col] == rem["__id"], "left")
        .withColumn("__iv", F.expr(merged))
        .select(
            F.col(id_col),
            F.expr(f"concat_ws(' ', {kept})").alias("clean_text"),
            F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
            F.expr(f"CAST(size({toks}) - size({kept}) AS BIGINT)").alias(
                "n_removed"
            ),
        )
    )


def embedding_lsh_pairs(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    bits: int = 12,
    n_tables: int = 4,
    n_probes: int = 1,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — the LSH-bucketed
    scale path (embedding_cosine_pairs is the bounded all-pairs
    verifier; this is what runs at 100 TB).

    Candidates come from a same-(table, bucket) self-join of
    anchor-pair signatures (similarity.anchor_planes /
    anchor_signatures — the deterministic, engine-replayable plane
    family the DuckDB differential oracle rides on): the shuffle key is
    a small integer pair, never the vectors, and no all-pairs stage
    exists anywhere. Every candidate pays the exact sequential-fold
    cosine, so reported pairs are exact (soundness 1); recall is the
    LSH bound ~1-(1-p^bits)^n_tables, OR-amplified by ``n_tables``.
    Bucket population is geometrically concentrated for near-dup
    thresholds; a pathological hot bucket degrades to that bucket's
    pair count only (cf. max_df in the Jaccard join).

    ``n_probes`` is the same margin-ranked multi-probe knob as
    ann_lsh's (similarity.multiprobe_signatures), applied to ONE side
    of the self-join: a pair whose signatures differ only by a probed
    bit set is recovered through the left row's extra bucket claims,
    while the right side stays the base signature — candidates remain
    a superset (soundness untouched, every pair still pays the exact
    rescore) and the probe rows are a constant ×n_probes multiplier on
    one side of the (table, bucket) equi-join, never a pair blow-up.
    On the fixture corpus it lifts recall vs the exact verifier from
    ~0.88 (single-probe) past 0.95 (tests pin the curve).

    Returns (i, j, cos6) with i < j, distinct across tables.
    """
    from .similarity import _anchor_rows, signature_rows

    anchors = _anchor_rows(vectors, vec_col, id_col, bits, n_tables)

    # Candidates carry bare (i, j) ids through the bucket join and the
    # cross-table dedup — vectors rejoin only for the once-per-pair
    # rescore. (Carrying both 64-dim vectors through the distinct()
    # multiplied shuffle bytes ~50x: measured 92 s -> 8 s at sf0.1.)
    #
    # ONE map-side signature pass serves BOTH sides of the self-join
    # (r14 optimization round): the probed left side is the full row
    # set, the base right side is its __p = 0 slice with renamed
    # columns — the old shape recomputed the whole vectors×planes
    # product a second time for the right side (its base buckets are
    # BY CONSTRUCTION the left side's). The checkpoint materializes
    # the pass once; it is a constant ×n_tables·n_probes multiple of
    # the corpus in (id, int, long) rows, the same bound the old
    # bits_df checkpoint carried. materialize_once (r15): a cluster
    # deployment with a configured checkpoint dir gets the RELIABLE
    # checkpoint (executor loss survivable, no executor-local storage
    # pinned); locally this stays localCheckpoint.
    from .checkpointing import materialize_once

    sig = materialize_once(
        signature_rows(
            vectors, anchors, vec_col, id_col, "i", "__ti", "__bi",
            bits, n_tables, n_probes=n_probes, probe_col="__p",
            fan_out=True,
        )
    )
    left = sig.drop("__p")
    right = sig.filter(F.col("__p") == 0).select(
        F.col("i").alias("j"),
        F.col("__ti").alias("__tj"),
        F.col("__bi").alias("__bj"),
    )
    cand = (
        left.join(
            right,
            (F.col("__ti") == F.col("__tj"))
            & (F.col("__bi") == F.col("__bj"))
            & (F.col("i") < F.col("j")),
        )
        .select("i", "j")
        .distinct()
    )
    # Rescore with per-vector norms computed ONCE in these projections
    # (pre-join), so each candidate pair pays a single dot fold instead
    # of dot + two norm folds — 3x less per-pair work at bit-identical
    # double arithmetic (cosine_expr docstring), measured 18 -> 8 s on
    # the sf0.1 multi-probe config.
    vi = vectors.select(
        F.col(id_col).alias("i"), F.col(vec_col).alias("__vi"),
        norm_expr(vec_col).alias("__ni"),
    )
    vj = vectors.select(
        F.col(id_col).alias("j"), F.col(vec_col).alias("__vj"),
        norm_expr(vec_col).alias("__nj"),
    )
    return (
        cand.join(vi, "i")
        .join(vj, "j")
        .withColumn(
            "cos6",
            F.floor(
                dot_expr("__vi", "__vj")
                / (F.col("__ni") * F.col("__nj")) * 1e6
            ).cast("long"),
        )
        .filter(F.col("cos6") >= int(threshold * 1e6))
        .select("i", "j", "cos6")
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: tuple[int, int] = (1, 2),
) -> DataFrame:
    """EXACT shingle-set Jaccard >= num/den similarity self-join via
    global-frequency PREFIX FILTERING plus the PPJoin POSITIONAL
    filter — the third point in the design space next to
    :func:`ngram_jaccard_pairs` (exact, but C(df,2) per posting list
    unless ``max_df`` throws pairs away) and MinHash-LSH (bounded
    candidates, but probabilistic):

    Order every doc's shingles by GLOBAL rarity (df asc, shingle asc —
    one total order for the whole corpus) and keep each doc's first
    ``|d| - ceil(t·|d|) + 1`` shingles as its prefix. Theorem: two
    sets with Jaccard >= t MUST share a prefix shingle under any
    common total order — so posting lists built from PREFIXES ONLY
    are a complete candidate generator, and ubiquitous shingles
    (exactly the C(df,2) killers) sort LAST, out of almost every
    prefix. No max_df, no lost pairs, no quadratic hot list.

    Candidates then pass the POSITIONAL filter before any payload
    joins: at the pair's FIRST shared token (every earlier token of
    either doc is provably unshared — both docs sort by the same
    global order), overlap <= 1 + min(remaining_a, remaining_b), and
    Jaccard >= num/den needs overlap·(num+den) >= num·(na+nb); pairs
    whose positional bound cannot reach the threshold die as bare id
    pairs. On the dense synthetic corpus this prunes the verify-join
    input by an order of magnitude at 10x docs.

    Every comparison is integer-exact: prefix length is
    ``n_sh - (num·n_sh + den - 1) div den + 1`` (a float ``ceil(t·n)``
    is the classic cross-engine boundary flip — and an undersized
    prefix silently LOSES pairs, which no exact verify can recover);
    the final filter cross-multiplies ``den·common >= num·union``;
    jaccard6 is an integer floor-division. Survivors verify exactly
    against per-doc shingle arrays (array_intersect) built AFTER a
    semi-join on the surviving doc ids, so only those docs' sets are
    ever collected or shuffled; at extreme candidate fan-out swap the
    verify for a posting-list count join.

    One content shuffle builds the ranked token table (the df join
    rides the same shingle partitioning); ONE Window node serves both
    the rank and the set size (same partition+order, mirrored
    frames); prefix posting lists enumerate pairs with the same
    two-level bounded explode as ``_posting_pairs``, carrying
    (doc, pos, n_sh) structs so the positional filter is a plain
    aggregate over the meetings.

    Returns ``(i, j, common, jaccard6)`` with i < j.
    """
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError(f"threshold must be a rational in (0, 1]: {num}/{den}")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    shingle_expr = SHINGLE_EXPR.format(toks=f"split({text_col}, ' ')", n=n)
    toks = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(n_part)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.expr(shingle_expr)).alias("shingle"),
        )
    )
    dfreq = toks.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfreq, "shingle")
    w_rank = Window.partitionBy("doc").orderBy("df", "shingle")
    w_all = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pos = ranked.select(
        "doc",
        "shingle",
        "df",
        F.row_number().over(w_rank).alias("pos"),
        F.count(F.lit(1)).over(w_all).alias("n_sh"),
    )
    keep = F.col("n_sh") - F.expr(f"div({num} * n_sh + {den - 1}, {den})") + 1
    prefix = pos.filter(F.col("pos") <= keep)
    # Meetings: every (pair, shared prefix token) — the struct sort
    # keys posting lists by doc id, so i < j; (df, shingle) rides along
    # to identify each pair's FIRST shared token in the global order.
    meets = (
        prefix.groupBy("shingle")
        .agg(
            F.first("df").alias("df"),
            F.sort_array(
                F.collect_list(F.struct("doc", "pos", "n_sh"))
            ).alias("docs"),
        )
        .filter(F.size("docs") >= 2)
        .select("df", "shingle", F.col("docs"), F.posexplode("docs").alias("p", "a"))
        .select(
            "df",
            "shingle",
            F.col("a"),
            F.explode(F.expr("slice(docs, p + 2, size(docs) - p - 1)")).alias(
                "b"
            ),
        )
    )
    # Length filter (sound: J >= num/den forces den·min(n) >= num·max(n),
    # since overlap <= min(n) and union >= max(n)) — kills incompatible
    # meetings as a cheap row predicate BEFORE the pair groupBy shuffle.
    size_ok = F.lit(den) * F.least(
        F.col("a.n_sh"), F.col("b.n_sh")
    ) >= F.lit(num) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    first_meet = meets.filter(size_ok).groupBy(
        F.col("a.doc").alias("i"), F.col("b.doc").alias("j")
    ).agg(
        F.min(
            F.struct(
                "df",
                "shingle",
                F.col("a.pos").alias("pa"),
                F.col("b.pos").alias("pb"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
        ).alias("m")
    )
    bound = F.lit(1) + F.least(
        F.col("m.na") - F.col("m.pa"), F.col("m.nb") - F.col("m.pb")
    )
    cand = first_meet.filter(
        bound * F.lit(num + den) >= F.lit(num) * (F.col("m.na") + F.col("m.nb"))
    ).select("i", "j")
    # Verify arrays are built ONLY for docs that survive both filters:
    # without the semi-join, the collect_set aggregate shuffles every
    # document's complete shingle set (a join does not push below an
    # aggregate) — the exact payload shuffle the pruning exists to
    # avoid. The candidate subtree is re-derived on each consumer
    # branch (id-sized aggregates; AQE exchange reuse collapses the
    # identical prefixes) — at corpus scale recomputing bare-id
    # candidates is orders cheaper than shuffling all arrays.
    # (r14 optimization round: a localCheckpoint of cand was measured
    # SLOWER here — 5.9 s → 9.2 s warm at sf0.1 — the eager
    # materialization defeats AQE's reuse of the shared prefix
    # exchanges; left as-is deliberately.)
    survivors = (
        cand.select(F.col("i").alias("doc"))
        .union(cand.select(F.col("j").alias("doc")))
        .distinct()
    )
    arrs = (
        toks.join(survivors, "doc", "left_semi")
        .groupBy("doc")
        .agg(
            F.collect_set("shingle").alias("sh"),
            F.count(F.lit(1)).alias("n_sh"),
        )
    )
    a = arrs.select(
        F.col("doc").alias("i"), F.col("sh").alias("sa"), F.col("n_sh").alias("na")
    )
    b = arrs.select(
        F.col("doc").alias("j"), F.col("sh").alias("sb"), F.col("n_sh").alias("nb")
    )
    verified = (
        cand.join(a, "i")
        .join(b, "j")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn("u", F.col("na") + F.col("nb") - F.col("common"))
        .filter(F.lit(den) * F.col("common") >= F.lit(num) * F.col("u"))
    )
    return verified.select(
        "i",
        "j",
        F.col("common").cast("long").alias("common"),
        F.expr("div(1000000 * common, u)").cast("long").alias("jaccard6"),
    )
