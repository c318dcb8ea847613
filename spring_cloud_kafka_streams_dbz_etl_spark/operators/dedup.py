"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):
- Exact dedup: hash-groupBy on the full row / content digest — one shuffle.
- MinHash+LSH: shingle -> K minhashes -> b bands of r rows -> candidate
  pairs via an equi-join on (band_idx, band_hash). The band join replaces
  the O(n^2) pairwise comparison with a shuffle on band keys; only
  candidates pay the exact-Jaccard verification. K/b/r tune the S-curve
  (P(candidate) = 1-(1-j^r)^b).
- SimHash: per-token signed bit votes -> fingerprint; exact-fingerprint
  grouping finds near-dups in one shuffle.
- All hashing is md5-based (functions/hashing.py) so signatures are
  engine-portable and verifiable by the DuckDB oracle.

No row-at-a-time UDFs anywhere — shingling is higher-order array
functions, hashing is md5 concat, banding is string concat + md5 —
everything stays in whole-stage codegen, with ONE measured exception:
the width-parameterized SimHash fingerprint is an Arrow ``mapInPandas``
pass (``simhash_bits_arrow``) that computes the whole per-doc
fingerprint map-side (no explode fan-out, no vote shuffle) — 1.4-1.8x
faster than the explode + vote-groupBy JVM form it replaced.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hex_nibble


def shingle(toks: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-grams of a token array (1 fused expression).

    DuckDB twin: ``list_distinct(list_transform(range(1, len(t)-n+2),
    i -> t[i] || ' ' || ... || t[i+n-1]))`` (1-based).
    Caller must pre-filter ``size(toks) >= n`` (F.sequence would otherwise
    count backwards).
    """
    parts = lambda i: [F.element_at(toks, i + off + 1) for off in range(n)]  # noqa: E731
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *parts(i)),
        )
    )


# Universal-hash permutation family for MinHash: one md5 per shingle is
# reduced to a 60-bit integer, then each of the k signature slots applies
# (a_j*h + b_j) mod P with P = 2^31-1 (prime). a_j*h < 2^62 fits exact
# signed-64 arithmetic in BOTH Spark and DuckDB, so the scheme stays
# bit-identical cross-engine while costing 1 md5 + k integer ops per
# shingle instead of k md5s (≈10% end-to-end at 80k docs; the larger
# wins there were persisting the band relation and — negative result —
# NOT moving hashing into HOF lambdas, see SCALE.md anti-pattern #2).
MINHASH_P = 2_147_483_647


def minhash_coeffs(j: int) -> tuple[int, int]:
    """Deterministic md5-derived permutation coefficients (inlined as
    literals into both the Spark plan and the DuckDB oracle SQL)."""
    import hashlib

    a = 1 + int(hashlib.md5(f"mh:a:{j}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1)
    b = int(hashlib.md5(f"mh:b:{j}".encode()).hexdigest()[:15], 16) % MINHASH_P
    return a, b


def minhash_signature(docs: DataFrame, id_col: str, shingle_col: str, k: int = 6) -> DataFrame:
    """(id, shingles array) -> (id, mh_0..mh_{k-1}) via k universal-hash
    permutations over ONE md5 per shingle. Single explode + single groupBy
    shuffle, all K minima computed in one aggregation pass (map-side
    partial min)."""
    ex = docs.select(id_col, F.explode(shingle_col).alias("__s"))
    h = (
        F.conv(F.substring(F.md5(F.col("__s")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    ex = ex.select(id_col, h.alias("__h"))
    aggs = []
    for j in range(k):
        a, b = minhash_coeffs(j)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(f"mh_{j}")
        )
    return ex.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """Signature -> exploded (id, band_idx, band_hash); r = k // bands."""
    r = k // bands
    entries = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * r + i}").cast("string") for i in range(r)]
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(id_col, F.explode(F.array(*entries)).alias("__b")).select(
        id_col, F.col("__b.band_idx").alias("band_idx"), F.col("__b.band_hash").alias("band_hash")
    )


def candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Self-join on (band_idx, band_hash) -> distinct ordered id pairs.

    The join key is the band hash, so co-bucketed docs co-locate in one
    shuffle; DISTINCT collapses pairs sharing multiple bands.
    """
    a = bands.select(
        F.col(id_col).alias("id_a"), "band_idx", F.col("band_hash").alias("bh")
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), "band_idx", F.col("band_hash").alias("bh")
    )
    return (
        a.join(b, on=["band_idx", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard(sa: F.Column, sb: F.Column) -> F.Column:
    """|A∩B| / |A∪B| over distinct-element arrays (int/int -> exact double).

    DuckDB twin: ``len(list_intersect(a,b)) /
    len(list_distinct(list_concat(a,b)))``.

    Zero-denominator audit (ANSI `/` aborts a job on x/0 — see
    functions/vector.py::safe_div): structurally unreachable here. A
    union can only be empty if BOTH arrays are empty, and every call
    site pairs docs via a shared band/shingle key — a doc with zero
    shingles has a NULL minhash signature and never joins. Plain `/`
    keeps the candidate-verify plans byte-stable.
    """
    return F.size(F.array_intersect(sa, sb)) / F.size(F.array_union(sa, sb))


def simhash16(docs: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """16-bit SimHash over distinct tokens: per-bit signed votes from md5
    nibble parities, one explode + one groupBy (16 sums fused)."""
    ex = docs.select(id_col, F.explode(token_col).alias("__t")).withColumn(
        "__h", F.md5(F.col("__t"))
    )
    votes = [
        F.sum(
            F.when(hex_nibble(F.col("__h"), j + 1) % 2 == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(16)
    ]
    summed = ex.groupBy(id_col).agg(*votes)
    fp = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(16)
        ],
    )
    return summed.select(id_col, fp.cast("int").alias("simhash"))


def prefix_filter_candidates(
    sets: DataFrame,
    id_col: str,
    set_col: str,
    threshold_num: int,
    threshold_den: int,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Candidate pairs for an EXACT Jaccard join via prefix filtering
    (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07).

    Orders each set by ascending global element frequency (ties by
    element) and keys the self-join on each side's first
    |s| - ceil(t·|s|) + 1 elements only. Guarantee (pigeonhole over the
    shared total order): any pair with J >= t shares at least one prefix
    element, so the candidate set is COMPLETE; callers verify exact
    Jaccard on candidates only. Threshold is a rational
    ``threshold_num/threshold_den`` so prefix lengths use exact integer
    arithmetic.

    Scale: work is Σ|per-prefix-element bucket|² and prefix elements are
    each set's RAREST — high-frequency boilerplate elements sort last and
    never key the join. This bounds the occupancy that a plain
    (lang, source, len_bucket) blocked self-join leaves unbounded.
    Returns (id_a, id_b) distinct with id_a < id_b; ``block_cols`` adds
    equality predicates to the candidate join (restricting pairs to the
    same block, matching blocked-join semantics).
    """
    blocks = list(block_cols or [])
    ex = sets.select(id_col, *blocks, F.explode(set_col).alias("__e"))
    freq = ex.groupBy("__e").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        ex.join(freq, "__e")
        .groupBy(id_col, *blocks)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("__e")))
            ).alias("__sorted")
        )
        .select(id_col, *blocks, F.col("__sorted.__e").alias("__by_rarity"))
    )
    n = F.size("__by_rarity")
    ceil_tn = F.floor(
        (n * threshold_num + (threshold_den - 1)) / threshold_den
    ).cast("int")
    prefix = ordered.select(
        id_col,
        *blocks,
        F.explode(F.slice("__by_rarity", F.lit(1), n - ceil_tn + 1)).alias("__e"),
    )
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), ["__e", *blocks])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash_bits_arrow(
    docs: DataFrame, id_col: str, token_col: str, width: int = 64,
    memo_cap: int = 1 << 18,
) -> DataFrame:
    """Width-parameterized SimHash (up to 64 bits, BIGINT fingerprint),
    computed map-side, per doc, inside one Arrow batch pass: md5 per
    token (hashlib, C-speed), then the nibble-bit vote tensor as
    vectorized numpy (bytes → nibbles → ±1 votes → sign assembly).

    Bit ``j``'s vote is bit ``j % 4`` of md5-hex nibble ``j // 4`` — one
    md5 per token yields 128 independent sign bits, of which the first
    ``width`` are used; a bit is set when its vote sum is strictly
    positive, and bit 63 maps to the BIGINT sign bit via two's
    complement (-2^63) so the full 64-bit space is representable. Rows
    with NULL/empty token arrays are dropped (explode semantics), and a
    NULL token element votes −1 on every bit (the md5-of-NULL chain of
    the SQL form). No token explode and NO shuffle — fingerprints are
    per-doc local, so the aggregation never needs an exchange. Pinned
    against a plain-Python model of the vote scheme in
    tests/test_properties.py.

    ``simhash16`` (parity-of-nibble scheme) is kept separate for oracle
    stability of ``q_simhash``; this is the production-width variant.
    """
    if not 1 <= width <= 64:
        raise ValueError(f"width must be in 1..64, got {width}")
    import numpy as np

    n_nibs = (width + 3) // 4
    n_bytes = (n_nibs + 1) // 2

    def fingerprint(batches):
        import hashlib

        import pandas as pd

        zero = bytes(n_bytes)  # NULL token element → all-zero nibbles → all −1
        # md5 is pure, and real corpora repeat tokens heavily (the sf0.1
        # fixture has ~1k distinct terms over 250k token instances), so a
        # per-task digest memo removes almost every hashlib call; votes
        # then reduce per doc in ONE numpy pass over the whole batch
        # (np.add.reduceat on doc boundaries) instead of a fresh tiny
        # array pipeline per doc — r17: 11.3 s -> see OPTIMIZATION_r17.md
        # for the measured kernel-stage delta. Exact integer votes, so
        # batching/accumulation order cannot change any fingerprint.
        # The memo is BOUNDED (VERDICT r17 #3 / ADVICE r17): past
        # memo_cap distinct tokens, new tokens hash directly instead of
        # inserting — a long-lived task over a high-cardinality token
        # column (URLs, IDs) must not grow a per-task Python dict without
        # limit. Memoization is a pure cache, so the cap cannot change
        # any fingerprint; the within-batch repetition win survives
        # because hot early tokens stay resident.
        memo: dict[str, bytes] = {}
        weights = (1 << np.arange(width, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            ids, chunks, counts = [], [], []
            for doc_id, toks in zip(pdf[id_col], pdf[token_col]):
                if toks is None or len(toks) == 0:
                    continue  # explode semantics: no row
                parts = []
                for t in toks:
                    if t is None:
                        parts.append(zero)
                        continue
                    d = memo.get(t)
                    if d is None:
                        d = hashlib.md5(t.encode()).digest()[:n_bytes]
                        if len(memo) < memo_cap:
                            memo[t] = d
                    parts.append(d)
                ids.append(doc_id)
                chunks.append(b"".join(parts))
                counts.append(len(parts))
            if not ids:
                yield pd.DataFrame({id_col: [], "simhash": []})
                continue
            digs = np.frombuffer(b"".join(chunks), dtype=np.uint8).reshape(
                -1, n_bytes
            )
            nibs = np.empty((digs.shape[0], n_bytes * 2), np.uint8)
            nibs[:, 0::2] = digs >> 4  # hex string order: high nibble first
            nibs[:, 1::2] = digs & 15
            bits = (nibs[:, :n_nibs, None] >> np.arange(4)[None, None, :]) & 1
            # flatten (nibble, bitpos) → j = 4*(j//4) + (j%4); exact
            # integer vote sums, so accumulation order is irrelevant
            tok_votes = (2 * bits.astype(np.int64) - 1).reshape(len(digs), -1)[
                :, :width
            ]
            starts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(np.asarray(counts[:-1], dtype=np.int64), out=starts[1:])
            votes = np.add.reduceat(tok_votes, starts, axis=0)
            on = (votes > 0).astype(np.uint64)
            # uint64 bit assembly; viewing as int64 IS the two's-complement
            # bit-63 rule the per-doc form spelled as `fp -= 1 << 63`
            fps = (on * weights[None, :]).sum(axis=1, dtype=np.uint64).view(
                np.int64
            )
            yield pd.DataFrame({id_col: ids, "simhash": fps})

    return docs.select(id_col, token_col).mapInPandas(
        fingerprint, schema=f"{id_col} long, simhash long"
    )


def simhash_width_for(
    n_docs: int, max_hamming: int = 3, target_bucket: int = 1024
) -> int:
    """Fingerprint width so the Manku block-permutation join stays linear.

    Pigeonhole needs ``max_hamming + 1`` blocks; candidate work is
    Σ|block bucket|² ≈ n·E|bucket| per block index, so each block needs
    ``lsh_bits_for``-style bits to hold E|bucket| = n / 2^block_bits at or
    below ``target_bucket``. Width = (d+1) · max(8, ceil(log2(n/target))),
    capped at 64 (BIGINT fingerprint): 1e6 docs / d=3 → 40 bits; 1e9 docs
    / d=3 → 64 bits (the production default). A corpus needing more than
    64 would lower d or shard by an orthogonal key first.
    """
    from .similarity import lsh_bits_for

    return min(64, (max_hamming + 1) * lsh_bits_for(n_docs, target_bucket))


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    toks_col: str = "toks",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowed (MOSS-style) fingerprints: hash every word n-gram, slide a
    window of `window` gram-hashes, keep each window's minimum; returns
    (id, wmin) distinct — guaranteed to catch any shared substring of
    >= n + window - 1 tokens between documents. Caller pre-filters
    ``size(toks) >= n``.

    Scale: one explode + one partition-local window + a distinct, all on a
    single id shuffle; fingerprints are 32-byte hashes, so downstream
    matching never touches document text.
    """
    from pyspark.sql import Window as W

    gram = lambda i: F.md5(  # noqa: E731
        F.concat_ws(
            " ", *[F.element_at(F.col(toks_col), i + k + 1) for k in range(n)]
        )
    )
    grams = docs.select(
        id_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.size(toks_col) - n), lambda i: gram(i))
        ).alias("idx0", "h"),
        (F.size(toks_col) - (n - 1)).alias("n_grams"),
    )
    w = W.partitionBy(id_col).orderBy("idx0").rowsBetween(W.currentRow, window - 1)
    winmin = grams.withColumn("wmin", F.min("h").over(w)).filter(
        F.col("idx0") <= F.col("n_grams") - window
    )
    return winmin.select(id_col, "wmin").distinct()


def survivor_manifest(comp: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-cluster survivor selection + drop manifest (q_dedup_survivors'
    rollup half): given ``comp(doc_id, cluster_id)`` (a connected-
    components labeling) and ``docs(doc_id, n_chars)``, keep the longest
    document per cluster of size >= 2 (max n_chars, tie -> lowest
    doc_id) and emit one row per such cluster: survivor id + length,
    members dropped, characters reclaimed.

    The policy key is an INTEGER and the rank order (n_chars DESC,
    doc_id ASC) is total, so the manifest is deterministic across
    engines, partitionings, and re-runs — what makes a drop list safe
    to re-derive. One shuffle join on doc_id (both sides corpus-sized,
    never broadcast), then the rank window and the |clusters|-row
    rollup share the cluster_id partitioning.
    """
    from pyspark.sql import Window

    j = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = (
        j.withColumn("sz", F.count(F.lit(1)).over(w))
        .filter(F.col("sz") >= 2)
        .withColumn("rn", F.row_number().over(w_rank))
    )
    return ranked.groupBy("cluster_id").agg(
        F.max("sz").cast("long").alias("cluster_size"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).cast("long").alias("survivor_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).cast("long").alias("survivor_chars"),
        F.count(F.when(F.col("rn") > 1, F.lit(1))).cast("long").alias("n_dropped"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)).cast("long").alias("chars_reclaimed"),
    )
