"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design:
- exact: one hash-aggregate on sha256(text) — map-side partial count
  absorbs duplicate-heavy partitions; `dedup_keep_first` uses min_by
  (no window, no sort).
- MinHash: signatures are computed WITHOUT a per-hash-function shuffle:
  each shingle row carries an array of H hashes
  (`transform(sequence(0,H-1), i -> xxhash64(shingle, i))`), and one
  groupBy(doc) computes all H mins as separate aggregates. One shuffle
  total, H-independent.
- LSH: band signature = xxhash64 over a signature slice; candidate
  generation is a self-join on (band, band_hash) — only docs sharing a
  band bucket ever meet, which is the whole point at 10^12 docs.
- n-gram Jaccard: exact verification for candidate pairs (explode
  distinct shingles, count intersection vs union).
- SimHash: 64 weighted-bit sums per doc in a single aggregate pass
  (array of 64 sum() columns), no Python.
- closure (r4): `dedup_assignments`/`dedup_near` — verified pairs →
  Pregel connected components → min-id canonical per cluster → the
  deduplicated corpus. The component fixpoint runs on the cap-bounded
  pair graph, not the corpus.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash64(col, seed: int | None = None, mode: str = "xxhash64"):
    """64-bit column hash in one of two modes.

    - "xxhash64" (default): Spark's native xxhash64 — fastest, used in
      production paths.
    - "portable": the top 60 bits of md5 as a BIGINT
      (`conv(substr(md5(x || ':seed'), 1, 15), 16, 10)`), reproducible
      in any engine with md5() — DuckDB spells it
      `CAST('0x' || substr(md5(x || ':seed'), 1, 15) AS BIGINT)`.
      Exists so MinHash/SimHash/LSH outputs are cross-engine
      oracle-checkable (integer-exact), not just structurally tested.
    """
    if mode == "xxhash64":
        return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
    if mode == "portable":
        s = col.cast("string") if seed is None else F.concat(
            col.cast("string"), F.lit(f":{seed}")
        )
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash mode {mode!r}")


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (content_sha256, n_docs) with n>1."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha256"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical content — min_by, not a window."""
    keep = (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("h"))
        .agg(F.min(F.col(id_col)).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Distinct character k-gram shingles per doc: (id, shingle).

    Pure JVM: sequence + transform + explode. The text is lowercased;
    shingling the raw column keeps the operator streaming (no Python).

    r6 (guide §2.4): the per-doc dedup is `array_distinct` INSIDE the
    row, not a corpus-wide `distinct()` — the old form shuffled the
    entire exploded shingle stream (≈ |corpus characters| rows) just to
    dedup within each doc, which a row-local set does for free. The
    operator is now a pure projection (ZERO exchanges): at 10^12 docs
    nothing shuffles until an aggregate keyed on doc id, whose map-side
    partial agg sees pre-deduped rows. Requires `id_col` to identify
    the row (a doc split across input rows was never supported — the
    shingle window cannot span rows).
    """
    # CASE WHEN instead of a filter() lambda: higher-order lambdas are
    # interpreted per element (no codegen), so each one removed is a
    # full pass over every character window — measured 2.3x cold / par
    # warm vs the filter form, and the short-doc guard needs no
    # per-element test anyway (a doc shorter than k has no k-gram).
    from linkgraph.tuning import ensure_min_partitions

    low = F.lower(F.col(text_col)).alias("_t")
    grams = F.expr(
        f"CASE WHEN length(_t) < {k} THEN CAST(array() AS array<string>) "
        f"ELSE array_distinct(transform(sequence(1, length(_t) - {k - 1}), "
        f"i -> substring(_t, i, {k}))) END"
    )
    # under-split sources only (one-row-group files): spread the
    # compute-heavy window projection across the cores; a no-op (and no
    # exchange) whenever the scan already has >= cores splits
    return (
        ensure_min_partitions(df.select(F.col(id_col).alias("id"), low))
        .select("id", F.explode(grams).alias("shingle"))
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16, hash_mode: str = "xxhash64"
) -> DataFrame:
    """(id, sig: array<long>) — MinHash signature from a shingle table.

    h_i(shingle) = hash64(shingle, seed=i); sig[i] = min over shingles.
    All H mins are computed by ONE aggregation (H agg columns), so the
    cost is one shuffle on id regardless of H. hash_mode="portable"
    makes the signature reproducible in DuckDB (driver oracle).
    """
    hashed = sh.select(
        "id",
        *[
            hash64(F.col("shingle"), seed=i, mode=hash_mode).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return sig.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_band_rows(
    signatures: DataFrame,
    bands: int = 4,
    hash_mode: str = "xxhash64",
    num_hashes: int | None = None,
) -> DataFrame:
    """(id, band, bh) — one LSH bucket row per (doc, band).

    Band hash = hash64 of the band's signature slice; depends only on
    the signature (hence only on the text), which is what makes the
    banded table an INDEX: it can be persisted and joined against by
    later batches (dedup_incremental) — a doc's bucket membership never
    changes. Shared by lsh_candidate_pairs (in-memory self-join) and
    the incremental index (catalog-persisted)."""
    if num_hashes is None or int(num_hashes) <= 0:
        raise ValueError(f"num_hashes must be positive, got {num_hashes}")
    sig_len = int(num_hashes)
    if bands <= 0 or bands > sig_len or sig_len % bands != 0:
        raise ValueError(
            f"bands={bands} must divide the signature length {sig_len} "
            "(bands > sig_len would hash empty slices: every doc would "
            "collide in every bucket)"
        )
    rows_per_band = sig_len // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    ),
                    mode=hash_mode,
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    # plan-embedded guard: a caller-declared num_hashes that disagrees
    # with the real signature length would silently band over a PREFIX
    # (understated) or fail as an opaque array-index error (overstated).
    # The check rides the same projection — no extra job.
    band_arr = F.when(F.size("sig") == sig_len, band_arr).otherwise(
        F.raise_error(
            F.concat(
                F.lit("lsh band rows: signature length "),
                F.size("sig").cast("string"),
                F.lit(f" != declared num_hashes={sig_len}"),
            )
        )
    )
    return signatures.select("id", F.explode(band_arr).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Band hash = hash64 of the band's signature slice. The self-join is
    keyed on (band, band_hash) — docs never compare across buckets.

    num_hashes is the signature length. Pass it (every caller knows it
    from minhash_signatures) — probing it from the data costs one full
    execution of the shingle→hash→min pipeline BEFORE the
    localCheckpoint below materializes it. The probe fallback exists
    only for signatures of unknown provenance.

    max_bucket_size bounds the m² blowup of a bucket of m
    near-identical docs (guaranteed on dup-heavy crawl data): buckets
    larger than the cap are dropped from candidate generation, with
    the dropped mass logged (no silent caps). Run `dedup_exact` FIRST
    so byte-identical duplicates never reach LSH — then an oversized
    bucket means heavy boilerplate, which the cap turns from a
    scale-killer into a logged skip.
    """
    if num_hashes is None:
        sig_len_row = signatures.select(F.size("sig").alias("n")).first()
        if sig_len_row is None:
            return signatures.sparkSession.createDataFrame([], "id_a long, id_b long")
        num_hashes = int(sig_len_row["n"])
    banded = lsh_band_rows(
        signatures, bands=bands, hash_mode=hash_mode, num_hashes=num_hashes
    )
    # Materialize the banded table ONCE: it is read 2× by the pair
    # self-join (3× with the cap's bucket-size count) and each read
    # would otherwise replay the whole shingle-explode + H-hash +
    # min-aggregate pipeline — the expensive part. |docs|×bands rows of
    # three fixed-width columns is tiny next to that recompute.
    banded = banded.localCheckpoint()
    if max_bucket_size is not None:
        # no persist: banded is already materialized above, so the
        # anti-join's recompute of `big` is one cheap aggregate (a
        # persist here would leak a cached block per call)
        big = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
        )
        dropped = big.agg(
            F.count(F.lit(1)).alias("buckets"), F.sum("n").alias("rows")
        ).first()
        if dropped["buckets"]:
            warnings.warn(
                f"lsh_candidate_pairs: dropped {dropped['buckets']} bucket(s) "
                f"over max_bucket_size={max_bucket_size} "
                f"({dropped['rows']} banded rows) from candidate generation",
                stacklevel=2,
            )
        # oversized buckets are few by construction — broadcast anti-join
        banded = banded.join(
            F.broadcast(big.select("band", "bh")), ["band", "bh"], "left_anti"
        )
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    sh: DataFrame, pairs: DataFrame | None = None, threshold: float = 0.0
) -> DataFrame:
    """Exact Jaccard over shingle sets: (id_a, id_b, jaccard).

    With `pairs` given (LSH candidates), the intersection is built FROM
    the candidates — `pairs ⋈ sh(id_a) ⋈ sh(id_b, shingle)` — so the
    verify stage's cost is bounded by |pairs| × shingles-per-doc and
    inherits LSH's cap. (The naive alternative — self-join sh on
    shingle, THEN semi-filter to pairs — re-explodes every co-shingle
    pair in the corpus: a hot boilerplate shingle shared by m docs
    costs m² join rows, the exact blowup the capped LSH stage upstream
    just eliminated. Catalyst can push a semi-join below the aggregate
    but not below the self-join, so the ordering must be explicit.)
    Without `pairs`, all pairs sharing ≥1 shingle are scored (exact,
    small corpora only).
    """
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    if pairs is not None:
        # distinct: duplicate candidate rows would multiply the
        # intersection counts; |pairs| is cap-bounded so this is cheap
        inter = (
            pairs.select("id_a", "id_b")
            .distinct()
            .join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
    scored = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold)


def near_dup_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The scale-safe near-dup pipeline: exact-dedup → shingle →
    MinHash → capped LSH. Byte-identical docs collapse BEFORE banding,
    so a crawl with 10k copies of one page contributes one signature,
    not a 10k² bucket; remaining oversized buckets (boilerplate) are
    capped and logged."""
    deduped = dedup_exact(df, id_col=id_col, text_col=text_col)
    sh = shingles(deduped, id_col=id_col, text_col=text_col, k=k)
    sig = minhash_signatures(sh, num_hashes=num_hashes, hash_mode=hash_mode)
    return lsh_candidate_pairs(
        sig,
        bands=bands,
        hash_mode=hash_mode,
        max_bucket_size=max_bucket_size,
        num_hashes=num_hashes,
    )


def near_dup_components(verified_pairs: DataFrame) -> DataFrame:
    """(id, comp) over the verified near-dup pair graph, comp = min doc
    id of the connected component — computed by the engine's Pregel
    connected-components driver (the flagship C2 algorithm running
    INSIDE the pipeline surface). The pair graph is the post-verify
    set, bounded by the LSH cap — orders of magnitude smaller than the
    corpus, so the fixpoint is cheap even when the corpus is 100 TB."""
    from linkgraph.algorithms import connected_components
    from linkgraph.graph import Graph

    g = Graph.prepare(
        verified_pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )
    if g.num_vertices == 0:
        g.unpersist()
        return verified_pairs.sparkSession.createDataFrame([], "id long, comp long")
    state, _ = connected_components(g)
    g.unpersist()
    return state


def dedup_assignments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    threshold: float = 0.5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The end-to-end dedup closure: (id_col, canonical_id) for EVERY
    input doc. canonical_id is deterministic (min doc id twice over):

        doc --exact--> rep   (min id per byte-identical sha256 group)
        rep --near---> comp  (min id of its verified near-dup component)

    Stages (each one the scale-safe operator already in this module):
    exact dedup → shingle → MinHash → capped LSH → candidate-driven
    Jaccard >= threshold → Pregel connected components over the pair
    graph → min-id canonical per component. A doc is a survivor iff
    doc_id == canonical_id; `dedup_near` applies that filter.

    Scale shape: the text is sha256-hashed in ONE corpus scan (the
    (id, h) projection is localCheckpoint-materialized and shared by
    the group aggregate and the doc→rep join), so the corpus-sized work
    is one scan+hash, one sha-keyed hash-agg shuffle, one sha-keyed
    join shuffle, the kept semi-join, and the shingle pipeline LSH
    already pays; the component fixpoint and the final mapping joins
    run on the pair graph / rep table, both bounded by the capped
    candidate set.
    """
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("h")
    ).localCheckpoint(eager=False)
    groups = hashed.groupBy("h").agg(F.min(F.col(id_col)).alias("rep"))
    doc_rep = hashed.join(groups, "h").select(id_col, "rep")
    kept = df.join(
        groups.select(F.col("rep").alias(id_col)), id_col, "left_semi"
    )
    sh = shingles(kept, id_col=id_col, text_col=text_col, k=k)
    sig = minhash_signatures(sh, num_hashes=num_hashes, hash_mode=hash_mode)
    pairs = lsh_candidate_pairs(
        sig,
        bands=bands,
        hash_mode=hash_mode,
        max_bucket_size=max_bucket_size,
        num_hashes=num_hashes,
    )
    verified = ngram_jaccard_pairs(sh, pairs, threshold=threshold)
    comp = near_dup_components(verified)
    return (
        doc_rep.join(comp.withColumnRenamed("id", "rep"), "rep", "left")
        .select(
            id_col,
            F.coalesce(F.col("comp"), F.col("rep")).alias("canonical_id"),
        )
    )


def dedup_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """The deduplicated corpus: rows of `df` whose doc is the canonical
    representative of its exact+near-dup cluster (doc_id ==
    canonical_id under `dedup_assignments`). This is the operator a
    training-data pipeline actually ships — candidates and verified
    pairs are intermediates."""
    assign = dedup_assignments(df, id_col=id_col, text_col=text_col, **kwargs)
    survivors = assign.filter(
        F.col(id_col) == F.col("canonical_id")
    ).select(id_col)
    return df.join(survivors, id_col, "left_semi")


def simhash_bits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, simhash_bits: array<int>) — classic SimHash over whitespace
    tokens, computed as nbits sum-aggregates in one pass (no Python).

    bit b of token-hash votes +1/-1; the sign of the summed vote is the
    output bit. Near-dup distance = hamming(simhash_a, simhash_b) via
    `zip_with` + filter.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.select("id", hash64(F.col("tok"), mode=hash_mode).alias("th"))
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(nbits)
        ]
    )
    return votes.select(
        "id",
        F.array(
            *[
                F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0))
                for b in range(nbits)
            ]
        ).alias("simhash_bits"),
    )


def hamming(a, b):
    """Column expr: hamming distance between two bit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
