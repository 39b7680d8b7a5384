"""Document deduplication operators for the training-data pipeline.

No analog in the reference (it is a tile engine); these are the mandated
large-scale-pipeline extensions. All hot paths are JVM-side Column
expressions (md5, split, transform, explode) so the same plan runs under
whole-stage codegen at 100 TB; the only shuffles are the groupBys /
self-joins on content keys, which AQE skew-handles.

Design notes for scale:
  * Exact dedup is one hash-groupBy — map-side partial agg then a single
    shuffle on md5(text).
  * MinHash/LSH: signatures are computed with one explode + one groupBy
    (k min() aggregates, partial-aggregated map-side), bands join on
    (band_id, band_hash) — candidate pairs only, never the full n^2.
  * All hashing is md5-based so the DuckDB oracle can reproduce results
    bit-for-bit (fixed-width lowercase hex compares lexicographically ==
    numerically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# ------------------------------------------------------------ exact (hash)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns (text_hash, n_docs, keep_id): keep_id is the smallest doc_id
    of the group (the canonical survivor).
    """
    return (docs
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_id")))


# -------------------------------------------------------------- shingling

def shingles(docs: DataFrame, n: int = 2, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (doc_id, shingle).

    Tokenization is a plain single-space split (matches the corpus
    convention and the SQL twin `string_split(text, ' ')`).

    distinct=True (default) dedups within each doc — required by
    consumers that COUNT shingle rows (exact Jaccard via
    :func:`_pair_jaccard`, the :func:`drop_hot_shingles` df cap).
    distinct=False skips the dedup EXCHANGE — a full shuffle of the
    widest table in any LSH plan — and is exactly as correct for
    duplicate-insensitive consumers: MinHash ``min`` over repeated
    shingle rows and ``collect_set`` both ignore within-doc repeats.
    The MinHash/LSH paths use it; at 100 TB this removes the single
    biggest shuffle from the signature build.
    """
    # docs with < n tokens yield no shingles; without the filter guard,
    # sequence(1, size(w)-1) DESCENDS for size(w)=1 (Spark sequence(1,0)
    # = [1,0]) and element_at(w, 0) throws — DuckDB's range() returns no
    # rows, so the guard also keeps the oracle twin exact
    toks = (docs.select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= n))
    parts = ", ".join(
        f"element_at(w, i + {j})" for j in range(n))
    sh = toks.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, size(w) - {n - 1}), "
            f"i -> concat_ws(' ', {parts}))")).alias("shingle"))
    return sh.dropDuplicates(["doc_id", "shingle"]) if distinct else sh


def _pair_jaccard(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair sharing >= 1 shingle."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (inter.join(na, "doc_a").join(nb, "doc_b")
            .withColumn("jaccard",
                        F.round(F.col("inter") /
                                (F.col("na") + F.col("nb") - F.col("inter")), 6)))


def drop_hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Remove shingles whose document frequency exceeds max_df.

    A stop-shingle ("of the") appearing in d documents creates O(d^2)
    candidate pairs in any shingle-sharing join — the standard web-scale
    mitigation is a df cap before pairing/banding. The hot set is tiny
    by construction (at most total_instances / max_df shingles), so it
    broadcasts; the corpus-side table never reshuffles.
    """
    hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > max_df).select("shingle"))
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def ngram_jaccard_pairs(docs: DataFrame, n: int = 2,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Output: (doc_a, doc_b, jaccard) with jaccard >= threshold,
    jaccard rounded to 6 decimals (oracle parity).

    max_shingle_df (opt-in, default off so the oracle rows stay
    byte-identical): drop shingles with document frequency above the
    cap before pairing — kills the O(df^2) stop-shingle blow-up at
    scale; jaccard is then computed over the surviving shingle sets.
    """
    sh = shingles(docs, n)
    if max_shingle_df is not None:
        sh = drop_hot_shingles(sh, max_shingle_df)
    return (_pair_jaccard(sh)
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


# ---------------------------------------------------------- MinHash + LSH

# Carter-Wegman hash family over a 31-bit md5-derived base hash.
# Everything stays under 2^62 (31-bit base x 31-bit multiplier), which
# matters twice: Spark longs would silently wrap but DuckDB BIGINTs
# RAISE on overflow, so the oracle twin needs the same no-overflow
# window; and exactness of the twin requires identical integer math.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for hash-family member i (a_i != 0)."""
    a = (i * 2654435761 + 40503) % MINHASH_P
    b = (i * 2246822519 + 12345) % MINHASH_P
    return (a or 1, b)


def _minhash_base_col():
    """31-bit integer base hash of a shingle: first 8 hex digits of
    md5, parsed as an int, top bit cleared. One md5 per shingle row —
    the k family members are then pure integer Column math."""
    return (F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
            .cast("long").bitwiseAND(F.lit(0x7FFFFFFF)))


def _signatures_from_shingles(sh: DataFrame, k: int) -> DataFrame:
    base = _minhash_base_col()
    aggs = []
    for i in range(k):
        a, b = minhash_coeffs(i)
        aggs.append(F.min((base * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
                    .alias(f"h{i}"))
    return sh.groupBy("doc_id").agg(*aggs)


def _band_explode(sig: DataFrame, k: int, rows_per_band: int) -> DataFrame:
    """Signature matrix -> persistent LSH band index
    (doc_id, band_id, band_hash). This is the table a crawl pipeline
    stores between snapshots: new batches join against it without
    touching old text (see :func:`incremental_lsh_pairs`).

    rows_per_band <= 2 (the default): the band hash is the EXACT
    base-2^31 packing h0 * 2^31 + h1 — each component is < 2^31, so the
    pair fits a long losslessly: a collision-free integer join key,
    cheaper to hash and shuffle than a hex digest. Wider bands fold the
    components with a polynomial hash mod 2^31 - 1 (products stay under
    2^62 — Spark longs never wrap and the DuckDB twin never raises); an
    honest hash at that point, not an injection — fine for a candidate
    generator whose pairs are exact-verified anyway."""
    n_bands = k // rows_per_band
    bands = []
    for b in range(n_bands):
        acc = F.col(f"h{b * rows_per_band}")
        for r in range(1, rows_per_band):
            h = F.col(f"h{b * rows_per_band + r}")
            if rows_per_band == 2:
                acc = acc * F.lit(1 << 31) + h
            else:
                acc = (acc * F.lit(1099511) + h) % F.lit(MINHASH_P)
        bands.append(F.struct(F.lit(b).alias("band_id"),
                              acc.cast("long").alias("band_hash")))
    return (sig.select("doc_id", F.explode(F.array(*bands)).alias("band"))
            .select("doc_id", "band.band_id", "band.band_hash"))


def minhash_band_table(docs: DataFrame, n: int = 2, k: int = 16,
                       rows_per_band: int = 2) -> DataFrame:
    """Compute the storable LSH band index for a corpus:
    (doc_id, band_id, band_hash). Write this to parquet partitioned by
    band_id; incremental crawls then band only the NEW batch and
    equi-join here — the corpus is never re-shingled."""
    return _band_explode(
        _signatures_from_shingles(shingles(docs, n, distinct=False), k),
        k, rows_per_band)


def minhash_lsh_pairs(docs: DataFrame, n: int = 2, k: int = 16,
                      rows_per_band: int = 2,
                      threshold: float = 0.35,
                      max_shingle_df: int | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, verified by exact Jaccard.

    Bands of `rows_per_band` signature components are hashed; a pair
    becomes a candidate if ANY band collides; candidates are then
    verified with the exact Jaccard (computed only for candidate
    pairs). Output: (doc_a, doc_b, jaccard) with jaccard >= threshold.

    max_shingle_df (opt-in, default off — oracle rows byte-identical
    when off): df-cap the shingle table first (see
    :func:`drop_hot_shingles`) so a stop-shingle cannot fatten the
    verify join's groups at web scale.

    The distinct-shingle table feeds FOUR subtrees (signatures, sizes,
    both sides of the verify join); Spark does not share that common
    subplan across joins (measured: 12 corpus scans / 26 exchanges,
    zero ReusedExchange), so it is persisted once — the canonical LSH
    signature-matrix materialization. The signature matrix itself also
    feeds BOTH sides of the band self-join, so it is persisted too (k
    hex strings per doc — tiny next to the shingle table). Handles are
    attached to the result as ``_internal_persists``; in-repo callers
    (bench.py, tools/check_contract.py) release them after
    materializing.
    """
    from pyspark import StorageLevel

    # the df cap needs DISTINCT rows (df = docs containing the shingle);
    # without it, both downstream consumers of sh (MinHash min,
    # collect_set) are duplicate-insensitive, so the dedup exchange —
    # a full shuffle of the widest table in this plan — is skipped
    sh = shingles(docs, n, distinct=max_shingle_df is not None)
    if max_shingle_df is not None:
        sh = drop_hot_shingles(sh, max_shingle_df)
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sig = _signatures_from_shingles(sh, k).persist(StorageLevel.MEMORY_AND_DISK)
    banded = _band_explode(sig, k, rows_per_band)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    cand = (a.join(b, ["band_id", "band_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").dropDuplicates()
            .persist(StorageLevel.MEMORY_AND_DISK))
    # exact-jaccard verification restricted to candidate pairs, via
    # per-doc shingle-set ARRAYS: two doc-id equi-joins attach each
    # side's set, then array_intersect computes |A ∩ B| JVM-side per
    # pair. Compared to re-exploding the shingle table against the
    # candidate list, this skips the |cand| x shingles/doc row blow-up
    # and its string-keyed shuffle (measured 1.9x on the verify stage);
    # still linear in |candidates|, exact string-set semantics, and a
    # doc's set rides along wherever its id is hashed — at 100 TB the
    # arrays table is one map-side-combined groupBy of the shingle
    # table, nothing else changes. Set arrays are built ONLY for docs
    # that appear in a candidate pair (left-semi on the candidate id
    # set) — non-candidate docs never materialize their array, so a
    # long-doc corpus with a sparse collision graph can't blow
    # executor memory on sets nobody will compare.
    cand_ids = (cand.select(F.col("doc_a").alias("doc_id"))
                .union(cand.select(F.col("doc_b").alias("doc_id")))
                .dropDuplicates())
    sets = (sh.join(cand_ids, "doc_id", "left_semi")
            .groupBy("doc_id").agg(F.collect_set("shingle").alias("sh_set")))
    seta = sets.select(F.col("doc_id").alias("doc_a"),
                       F.col("sh_set").alias("set_a"))
    setb = sets.select(F.col("doc_id").alias("doc_b"),
                       F.col("sh_set").alias("set_b"))
    # exact-safe size prefilter (PPJoin-style): J = |∩|/|∪| <=
    # min(|A|,|B|)/max(|A|,|B|), so a pair whose size ratio is already
    # below the threshold cannot pass — drop it BEFORE the O(|A|+|B|)
    # array_intersect. Never changes output rows.
    size_ok = (F.least(F.size("set_a"), F.size("set_b")) >=
               F.greatest(F.size("set_a"), F.size("set_b")) * threshold)
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    out = (cand.join(seta, "doc_a").join(setb, "doc_b")
           .filter(size_ok)
           .withColumn("jaccard", F.round(inter / union, 6))
           .filter(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", "jaccard"))
    out._internal_persists = [sh, sig, cand]
    return out


def incremental_lsh_pairs(new_docs: DataFrame, corpus_docs: DataFrame,
                          n: int = 2, k: int = 16,
                          rows_per_band: int = 2,
                          threshold: float = 0.35,
                          corpus_bands: DataFrame | None = None,
                          new_bands: DataFrame | None = None,
                          cross_only: bool = False) -> DataFrame:
    """Incremental (cross-snapshot) near-dup detection: a NEW crawl
    batch against the EXISTING corpus — the per-snapshot dedup step of
    a continuously-ingesting web pipeline, where re-running all-corpus
    LSH per crawl is the classic scale mistake.

    Candidates are band collisions of new x corpus plus new x new
    (earlier-new-doc wins: dup_id < new_id for new-new pairs); each
    candidate is verified with exact Jaccard. Returns
    (new_id, dup_id, jaccard >= threshold) — a new doc with any row
    here is a near-dup to drop/cluster; corpus-corpus pairs are by
    construction never recomputed.

    Scale contract: pass ``corpus_bands`` (the stored
    :func:`minhash_band_table` index, parquet-partitioned by band_id)
    and the corpus text is read ONLY for verified candidates via a
    semi-join on the candidate dup ids — per-crawl cost is
    O(new batch + collisions), independent of corpus size. When
    ``corpus_bands`` is None (tests / first snapshot) the index is
    derived from ``corpus_docs`` in-plan; pass ``new_bands`` (the
    batch's own precomputed :func:`minhash_band_table`) to skip
    re-deriving the batch signatures when the caller also stores them.
    ``cross_only=True`` skips the new x new self-join entirely —
    the shape cross-set consumers (fuzzy decontamination) want, where
    pairs WITHIN ``new_docs`` are not of interest and verifying them
    would be pure wasted work. New and corpus doc_ids must be
    disjoint. Persisted handles are exposed as ``_internal_persists``.
    """
    from pyspark import StorageLevel

    # non-distinct: both consumers (MinHash min, collect_set verify)
    # are duplicate-insensitive — see minhash_lsh_pairs
    sh_new = shingles(new_docs, n, distinct=False) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    persists = [sh_new]
    if new_bands is None:
        new_bands = _band_explode(
            _signatures_from_shingles(sh_new, k), k, rows_per_band) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        persists.append(new_bands)
    if corpus_bands is None:
        corpus_bands = minhash_band_table(corpus_docs, n, k, rows_per_band)

    a = new_bands.select(F.col("doc_id").alias("new_id"),
                         "band_id", "band_hash")
    bc = corpus_bands.select(F.col("doc_id").alias("dup_id"),
                             "band_id", "band_hash")
    cand = (a.join(bc, ["band_id", "band_hash"])
            .select("new_id", "dup_id"))
    if not cross_only:
        bn = new_bands.select(F.col("doc_id").alias("dup_id"),
                              "band_id", "band_hash")
        self_ = (a.join(bn, ["band_id", "band_hash"])
                 .filter(F.col("dup_id") < F.col("new_id"))
                 .select("new_id", "dup_id"))
        cand = cand.union(self_)
    cand = cand.dropDuplicates().persist(StorageLevel.MEMORY_AND_DISK)

    # corpus text only for candidate dup ids (semi-join keeps the scan
    # pruned to the collision set), then the usual anchored verify
    corp_cand = corpus_docs.join(
        cand.select(F.col("dup_id").alias("doc_id")).dropDuplicates(),
        "doc_id", "left_semi")
    # the candidate-side shingle table feeds the verify via per-doc
    # set arrays (see minhash_lsh_pairs); persisting it keeps the
    # corpus semi-join+shingle to ONE pass
    sh_corp = shingles(corp_cand, n, distinct=False) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    # prune the NEW side the same way the corpus side already is: set
    # arrays only for docs that appear in some candidate pair (a new
    # doc can sit on either side — dup_id for new x new pairs — so the
    # semi-join keys on both columns; corpus ids in the key set are
    # harmlessly absent from sh_new)
    cand_new_ids = (cand.select(F.col("new_id").alias("doc_id"))
                    .union(cand.select(F.col("dup_id").alias("doc_id")))
                    .dropDuplicates())
    sh_ver = sh_new.join(cand_new_ids, "doc_id", "left_semi") \
        .union(sh_corp)
    sets = sh_ver.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh_set"))
    seta = sets.select(F.col("doc_id").alias("new_id"),
                       F.col("sh_set").alias("set_a"))
    setb = sets.select(F.col("doc_id").alias("dup_id"),
                       F.col("sh_set").alias("set_b"))
    size_ok = (F.least(F.size("set_a"), F.size("set_b")) >=
               F.greatest(F.size("set_a"), F.size("set_b")) * threshold)
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    out = (cand.join(seta, "new_id").join(setb, "dup_id")
           .filter(size_ok)
           .withColumn("jaccard", F.round(inter / union, 6))
           .filter(F.col("jaccard") >= threshold)
           .select("new_id", "dup_id", "jaccard"))
    out._internal_persists = persists + [cand, sh_corp]
    return out


# ----------------------------------------------------------------- SimHash

def simhash_bits(docs: DataFrame, bits: int = 16,
                 token_col: str = "text") -> DataFrame:
    """`bits`-wide SimHash over word tokens, fully Column-expression based.

    Bit j (j = 0..bits-1) is set when the sum over tokens of
    (+1 if bit j of md5(token) else -1) is positive. Bit j of md5 is
    extracted from hex digit j/4 — integer math reproducible in ANSI SQL
    for the oracle. bits <= 62 so the signature fits a signed long
    without touching the sign bit. Returns (doc_id, simhash).

    16 bits is the oracle-checked default; at web scale use a wider
    signature (e.g. 48-62) so pigeonhole chunk blocks in
    ``simhash_pairs`` stay selective.
    """
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in 1..62")
    toks = docs.select("doc_id",
                       F.explode(F.split(token_col, " ")).alias("tok"))
    toks = toks.withColumn("h", F.md5("tok"))
    # Decode the md5 hex prefix into two 32-bit words ONCE per token
    # (conv returns a base-10 string; 8 hex chars always fit a long),
    # then every bit is a shift+mask in the same codegen stage. This
    # replaces `bits` instr()-on-substring evaluations per token —
    # identical bit values (bit j = MSB-first bit j of the hex prefix),
    # so the instr-based oracle SQL twin is unchanged.
    toks = toks.withColumn(
        "w0", F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))
    if bits > 32:
        toks = toks.withColumn(
            "w1", F.conv(F.substring("h", 9, 8), 16, 10).cast("long"))
    bit_sums = []
    for j in range(bits):
        word, off = ("w0", 31 - j) if j < 32 else ("w1", 63 - j)
        bit = F.shiftrightunsigned(word, off).bitwiseAND(F.lit(1))
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    per_doc = toks.groupBy("doc_id").agg(*bit_sums)
    acc = F.lit(0)
    for j in range(bits):
        acc = acc + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return per_doc.select("doc_id", acc.cast("long").alias("simhash"))


def simhash16(docs: DataFrame, token_col: str = "text") -> DataFrame:
    """16-bit SimHash (oracle-checked width). See :func:`simhash_bits`."""
    return simhash_bits(docs, 16, token_col)


def simhash_pairs_from_signatures(sh: DataFrame, max_hamming: int = 3,
                                  bits: int = 16) -> DataFrame:
    """Pairs from a (doc_id, simhash) table differing by <= max_hamming bits.

    Recall-exact pigeonhole blocking: the signature is split into
    max_hamming+1 contiguous chunks; a pair within the hamming budget
    has at most max_hamming differing bits, so at least one chunk is
    bit-identical on both sides (pigeonhole). The union of per-chunk
    equi-joins therefore contains EVERY qualifying pair; the exact
    hamming filter then removes false positives. No n^2 join — the only
    shuffle keys are (chunk_id, chunk_val), and at web scale a wider
    signature (bits=48..62) keeps each chunk selective (16-bit chunks =
    65536 block values) so no block goes quadratic.
    """
    n_chunks = max_hamming + 1
    bounds = [bits * i // n_chunks for i in range(n_chunks + 1)]
    chunks = []
    for c in range(n_chunks):
        lo, width = bounds[c], bounds[c + 1] - bounds[c]
        val = (F.shiftrightunsigned("simhash", lo)
               .bitwiseAND(F.lit((1 << width) - 1)))
        chunks.append(F.struct(F.lit(c).alias("chunk_id"),
                               val.cast("long").alias("chunk_val")))
    blocked = (sh.select("doc_id", "simhash",
                         F.explode(F.array(*chunks)).alias("ch"))
               .select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val"))
    a = blocked.select(F.col("doc_id").alias("doc_a"),
                       F.col("simhash").alias("sim_a"),
                       "chunk_id", "chunk_val")
    b = blocked.select(F.col("doc_id").alias("doc_b"),
                       F.col("simhash").alias("sim_b"),
                       "chunk_id", "chunk_val")
    # a pair agreeing on several chunks appears once per agreeing chunk.
    # The hamming test is pure codegen bit math, so it is evaluated on
    # every blocked appearance BEFORE the pair-dedup: the dropDuplicates
    # shuffle then moves only the qualifying pairs, not the full
    # candidate blow-up (measured 1.5x on the pair stage at sf0.1 even
    # with saturated 16-bit blocks; the gap widens when the hamming
    # filter is more selective, i.e. at the wide signatures scale wants).
    xor = F.expr("sim_a ^ sim_b")
    ham = sum(F.shiftrightunsigned(xor, j).bitwiseAND(F.lit(1))
              for j in range(bits))
    return (a.join(b, ["chunk_id", "chunk_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["doc_a", "doc_b"])
            .select("doc_a", "doc_b", "hamming"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  bits: int = 16) -> DataFrame:
    """Near-dup pairs whose SimHashes differ by <= max_hamming bits.

    Composition of :func:`simhash_bits` and
    :func:`simhash_pairs_from_signatures` (see there for the recall
    guarantee and scaling notes). Output: (doc_a, doc_b, hamming).
    """
    return simhash_pairs_from_signatures(
        simhash_bits(docs, bits), max_hamming, bits)


# ------------------------------------------------- dedup clustering (CC)

def connected_components(pairs: DataFrame, id_a: str = "doc_a",
                         id_b: str = "doc_b",
                         max_iter: int = 50) -> DataFrame:
    """Connected components over a near-dup pair list: the step that
    turns pairwise matches into dedup CLUSTERS (keep one doc per
    component). Returns (doc_id, cluster_id) where cluster_id is the
    smallest doc_id in the component — the canonical survivor.

    Min-label propagation: each round every node adopts the minimum
    label in its closed neighborhood; converged when no label changes.
    Rounds = O(component diameter) — near-dup clusters are shallow
    (duplicates of a common ancestor), so this terminates in a handful
    of shuffles at any corpus size; each round is one equi-join + one
    groupBy on the edge list, no driver materialization beyond the
    per-round convergence count (one action per round, mirroring the
    knn_points_exact contract).

    Lineage is CHECKPOINT-TRUNCATED every round: persist alone leaves
    the logical plan growing linearly and Catalyst re-analysis goes
    superlinear (measured: round 6 of a 10-hop path took 26s vs 1.2s
    for round 1). With a checkpoint dir set (cluster: resilient HDFS
    checkpoints) ``DataFrame.checkpoint`` is used; otherwise
    ``localCheckpoint`` (executor-local, the right call on local mode
    and the common choice for iterative graph algorithms). Handles
    still cached at return are exposed as ``_internal_persists``.
    """
    from pyspark import StorageLevel

    half = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (half.union(half.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
             .distinct().persist(StorageLevel.MEMORY_AND_DISK))

    sc = pairs.sparkSession.sparkContext
    has_ckpt_dir = sc._jsc.sc().getCheckpointDir().isDefined()

    def truncate(df):
        return df.checkpoint(eager=True) if has_ckpt_dir \
            else df.localCheckpoint(eager=True)

    labels = truncate(edges.select(F.col("a").alias("id")).distinct()
                      .withColumn("label", F.col("id")))
    persists = [edges]
    for _ in range(max_iter):
        nbr_min = (edges.join(labels.withColumnRenamed("id", "b"), "b")
                   .groupBy("a").agg(F.min("label").alias("nbr_label"))
                   .withColumnRenamed("a", "id"))
        new_labels = truncate(
            labels.join(nbr_min, "id", "left")
            .select("id", F.least("label", "nbr_label").alias("label")))
        changed = (new_labels.withColumnRenamed("label", "new_label")
                   .join(labels, "id")
                   .filter(F.col("new_label") != F.col("label"))
                   .count())  # the one action this round
        labels.unpersist()  # old round: checkpointed+cached, now unused
        labels = new_labels
        if changed == 0:
            break
    persists.append(labels)
    out = labels.select(F.col("id").alias("doc_id"),
                        F.col("label").alias("cluster_id"))
    out._internal_persists = persists
    return out


# Pipeline-facing stop-shingle df cap. A shingle in d docs creates
# O(d^2) candidate pairs in any shingle-sharing join; at 10k the worst
# single shingle is bounded at ~5e7 pairs per shingle while no real
# near-dup signal survives above that df anyway (a shingle shared by
# 10k docs is a stopword phrase, not evidence of duplication).
# Contract/oracle queries pass max_shingle_df=None explicitly to keep
# oracle rows byte-identical with the uncapped DuckDB twin.
DEFAULT_MAX_SHINGLE_DF = 10_000


def dedup_clusters(docs: DataFrame, n: int = 2, threshold: float = 0.5,
                   max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
                   ) -> DataFrame:
    """End-to-end near-dup clustering: exact n-gram Jaccard pairs at
    `threshold` -> connected components -> (doc_id, cluster_id,
    cluster_size), smallest doc_id canonical. Docs in no pair are
    singletons and are omitted (their cluster is themselves).

    As the pipeline-facing wrapper this defaults the stop-shingle df
    cap ON (``DEFAULT_MAX_SHINGLE_DF``) so one hot shingle cannot go
    O(df^2) at corpus scale; pass ``max_shingle_df=None`` for the
    uncapped exact semantics (what the oracle contract query does —
    equivalent below the cap anyway, and sf0.01's max df is ~500)."""
    pairs = ngram_jaccard_pairs(docs, n, threshold, max_shingle_df)
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    out = cc.join(sizes, "cluster_id") \
        .select("doc_id", "cluster_id", "cluster_size")
    out._internal_persists = getattr(cc, "_internal_persists", [])
    return out


# ------------------------------------- exact-substring (span) dedup

def _word_spans(docs: DataFrame, k: int) -> DataFrame:
    """Every word k-gram occurrence per document (WITH multiplicity,
    unlike :func:`shingles`): (doc_id, span). The unit of exact-
    substring dedup a la Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — repeated token spans across
    documents are memorization fuel that doc-level Jaccard misses."""
    toks = (docs.select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= k))
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(k))
    return toks.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, size(w) - {k - 1}), "
            f"i -> concat_ws(' ', {parts}))")).alias("span"))


def hash_key60(col) -> F.Column:
    """Engine-portable 60-bit uniform key: first 15 hex digits of
    md5(col as string), parsed base-16. THE shared key recipe — span
    dedup shuffles it instead of span strings, and the sampling
    operators compare it against rate thresholds; DuckDB computes the
    identical value, so every oracle twin reproduces each decision
    bit-for-bit. One definition on purpose: the hand-written SQL twins
    must stay bit-identical with this expression."""
    c = col if not isinstance(col, str) else F.col(col)
    return (F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
            .cast("long"))


def _span_key():
    """60-bit key of the span column (see :func:`hash_key60`)."""
    return hash_key60("span")


def _span_key2():
    """SECOND 60 bits of md5(span) — hex digits 16..30. Together with
    :func:`_span_key` this gives a 120-bit span identity: at 10^12
    span occurrences the birthday bound is ~(10^12)^2 / 2^121 ≈ 4e-13
    expected collisions, vs ~0.5 expected at 60 bits (where distinct
    spans would silently conflate and overcount dup_spans). Still two
    8-byte longs on the shuffle wire, not a 32-byte hex string."""
    return (F.conv(F.substring(F.md5(F.col("span").cast("string")), 16, 15),
                   16, 10).cast("long"))


def duplicate_spans(docs: DataFrame, k: int = 5) -> DataFrame:
    """Corpus-level report of word k-gram spans occurring in >= 2
    distinct documents: (span, n_docs, n_occ), the candidate list an
    exact-substring dedup pass would cut from the corpus.

    One explode + one map-side-combined groupBy on the span text —
    linear in corpus token count, shuffle keyed on the span string
    (the report needs the text; the stats path below shuffles the
    60-bit key instead)."""
    sp = _word_spans(docs, k)
    return (sp.groupBy("span")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_occ"))
            .filter(F.col("n_docs") >= 2))


def span_dedup_stats(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document exact-substring duplication stats: (doc_id,
    n_spans, dup_spans, dup_ratio) where dup_spans counts the doc's
    k-gram occurrences whose span text appears in >= 2 distinct
    documents. dup_ratio is the per-doc filtering signal (drop or
    trim docs above a cap).

    Scale shape: spans table persisted once and consumed by three
    subtrees (per-doc totals, the dup-key set, the dup-count join);
    every shuffle after the explode is keyed on the 120-bit span
    identity (TWO 8-byte longs — see :func:`_span_key2` for the
    birthday math; 60 bits alone expects ~0.5 collisions at 10^12
    occurrences, conflating distinct spans). Map-side combine applies
    to both groupBys; the dup-set join is an equi-join on the key
    pair. Linear at 100 TB, no all-pairs anywhere."""
    from pyspark import StorageLevel
    sp = (_word_spans(docs, k)
          .select("doc_id", _span_key().alias("h"), _span_key2().alias("h2"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    per_doc = sp.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dup = (sp.groupBy("h", "h2")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2).select("h", "h2"))
    dup_per_doc = (sp.join(dup, ["h", "h2"])
                   .groupBy("doc_id")
                   .agg(F.count("*").alias("dup_spans")))
    out = (per_doc.join(dup_per_doc, "doc_id", "left")
           .fillna(0, subset=["dup_spans"])
           .withColumn("dup_ratio",
                       F.round(F.col("dup_spans") /
                               F.col("n_spans"), 6))
           .select("doc_id", "n_spans", "dup_spans", "dup_ratio"))
    out._internal_persists = [sp]
    return out


def dedup_paragraphs(docs: DataFrame, text_col: str = "text",
                     sep: str = "\n\n") -> DataFrame:
    """Corpus-wide keep-first paragraph deduplication — the CCNet
    paragraph-hash dedup stage (every paragraph's md5 is looked up
    corpus-wide; only its FIRST occurrence in (doc_id, position) order
    survives, so boilerplate and syndicated passages are stripped from
    every later document). Differs from line-level boilerplate removal
    in both granularity and semantics: no frequency threshold — the
    second copy is already a duplicate, and the first copy is always
    kept. Trimmed-empty paragraphs are dropped as non-content.

    Returns (doc_id, text_dedup, n_paras, n_dropped); docs whose every
    paragraph was dropped come back as empty strings via the doc-id
    spine, not missing rows.

    Scale shape: the paragraph stream shuffles ONCE on the md5 key —
    the honest cost of global dedup — but the first-occurrence winner
    is a map-side-combinable MIN of a (doc_id, pos) struct, not a
    per-key sort, so hot keys (cookie banners with corpus-scale df)
    cost a partial-agg merge instead of a skewed window sort. The
    rebuild is one groupBy(doc_id), the same key downstream per-doc
    operators already partition by.
    """
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"))
    keyed = (paras.filter(F.trim("para") != "")
             .withColumn("_k", F.md5(F.trim("para"))))
    firsts = (keyed.groupBy("_k")
              .agg(F.min(F.struct("doc_id", "pos")).alias("_first")))
    kept = (keyed.join(firsts, "_k")
            .filter((F.col("doc_id") == F.col("_first.doc_id")) &
                    (F.col("pos") == F.col("_first.pos")))
            .select("doc_id", "pos", "para"))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "para"))),
                            lambda s: s["para"]),
                        sep).alias("text_dedup"),
                    F.count("*").alias("_n_kept")))
    totals = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    return (docs.select("doc_id")
            .join(totals, "doc_id")
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                    F.col("n_paras").cast("long").alias("n_paras"),
                    (F.col("n_paras") -
                     F.coalesce("_n_kept", F.lit(0))).cast("long")
                    .alias("n_dropped")))
