"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design notes (100 TB target):
- exact dedup is a single hash-aggregate shuffle on the fingerprint;
- MinHash LSH shuffles once on (band_id, band_hash) — candidate pairs
  are produced by an equi-join on bucket, never an O(n²) cross join;
- all hashing is md5-based and engine-portable (same buckets in any
  engine that has md5), so results are deterministic and oracle-checkable;
- everything is built-in-function Catalyst expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..storage import hold, owned, scope
from .util import (_partition_footer_rows, _small_corpus, fan_out,
                   fs_read_json, fs_write_json, recover_swap, render,
                   swap_in)

__all__ = [
    "exact_dedup", "exact_dedup_rows", "word_shingles", "char_shingles",
    "minhash_signature",
    "lsh_candidate_pairs", "jaccard", "minhash_dedup_pairs", "simhash",
    "char_shingled", "connected_components",
    "connected_components_star", "neardup_dedup",
    "contaminated_ids", "decontaminate",
    "span_occurrences", "duplicate_spans", "substring_dedup",
    "write_minhash_index", "read_minhash_meta", "minhash_index_append",
    "minhash_index_lookup", "minhash_index_maintain",
    "minhash_index_recover", "neardup_filter_new",
]


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per normalized-text fingerprint.
    One hash-aggregate; at scale the md5 keys distribute uniformly.
    NULL text fingerprints like '' (see :func:`~..text.fingerprint`)."""
    from .text import fingerprint

    fp = fingerprint(F.col(text_col))
    return (
        df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__fp")
    )


def exact_dedup_rows(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Row-preserving sibling of :func:`exact_dedup`: keep the FULL row
    of the smallest id per normalized-text fingerprint (exact_dedup
    collapses to (id, n_copies) — fine for reporting, useless mid-
    pipeline).  One hash-partition shuffle on the md5 fingerprint
    (uniform keys), per-group rank — no second join back to the
    corpus.  NULL text fingerprints like '' (one survivor across all
    NULL/empty docs) — see :func:`~..text.fingerprint` for why."""
    from pyspark.sql import Window

    from .text import fingerprint

    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def _word_shingles(f, text, k: int):
    from .text import _words
    from .util import bind

    def mk(w):
        # w is the BOUND split result — slicing a captured `words`
        # inside the transform would re-split the text per shingle
        n = f.array_size(w)
        return f.array_distinct(f.transform(
            f.sequence(f.lit(0), f.greatest(n - k, f.lit(0))),
            lambda j: f.array_join(f.slice(w, j + 1, k), " "),
        ))

    return bind(_words(f, text), mk, f)


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as an array<string> (deduplicated).

    NULL docs coalesce to '' so they behave exactly like empty docs
    (one empty shingle) in EVERY engine — without the guard, Spark's
    greatest(NULL - k, 0) is 0 (greatest skips NULLs) and yields
    [NULL], where engines whose greatest propagates NULL yield [] —
    found by tests/test_fuzz_extras.py.

    A ``str`` argument is a column NAME: the whole expression then
    parses as one SQL string (r14 — ~8x fewer py4j round-trips)."""
    return render(_word_shingles, text, k)


def _char_shingles(f, text, k: int):
    from .util import WS_CLASS, bind

    t = f.lower(f.regexp_replace(f.coalesce(text, f.lit("")),
                                 WS_CLASS + "+", " "))

    def mk(s):
        n = f.length(s)
        return f.array_distinct(f.transform(
            f.sequence(f.lit(1), f.greatest(n - k + 1, f.lit(1))),
            lambda j: f.substring(s, j, k),
        ))

    return bind(t, mk, f)


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """k-character shingles (deduplicated).  NULL docs coalesce to ''
    like word_shingles — engine-independent [''] instead of [NULL].
    A ``str`` argument is a column NAME (one-SQL-parse form, r14)."""
    return render(_char_shingles, text, k)


# affine minhash family over one md5-derived 32-bit base hash per shingle:
# h_i(s) = (A_i * base(s) + B_i) mod P — ONE md5 per shingle instead of
# n_hashes md5s (16x less hashing at 100 TB), still a valid minhash
# family, and exactly reproducible in any engine with md5 + 64-bit ints.
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
MINHASH_A = [2 * i + 1 for i in range(1, 65)]  # odd multipliers
MINHASH_B = [7_368_787 * (i + 1) % MINHASH_P for i in range(64)]


def _shingle_base_hash(f, shingles):
    return f.transform(
        shingles,
        lambda s: f.conv(f.substring(f.md5(s), 1, 8), 16, 10).cast("long"),
    )


def shingle_base_hash(shingles: Column | str) -> Column:
    """array<long>: first 8 md5 hex chars of each shingle as a 32-bit
    int.  A ``str`` argument is a column NAME (one-SQL-parse form)."""
    return render(_shingle_base_hash, shingles)


def minhash_value(base_hashes: Column, i: int) -> Column:
    """The i-th minhash: min over shingles of (A_i*base + B_i) mod P."""
    a, b = MINHASH_A[i], MINHASH_B[i]
    return F.array_min(
        F.transform(
            base_hashes,
            lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P),
        )
    )


def minhash_signature(shingles: Column, n_hashes: int = 16) -> list[Column]:
    base = shingle_base_hash(shingles)
    return [minhash_value(base, i) for i in range(n_hashes)]


def _minhash_signature_array(f, base_hashes, n_hashes: int):
    from .util import lit_num_array

    a_arr = lit_num_array(MINHASH_A[:n_hashes], "bigint", f)
    b_arr = lit_num_array(MINHASH_B[:n_hashes], "bigint", f)
    init = f.array_repeat(f.lit(MINHASH_P).cast("long"), n_hashes)
    idx = f.sequence(f.lit(0), f.lit(n_hashes - 1))
    return f.aggregate(
        base_hashes, init,
        lambda acc, h: f.zip_with(
            acc, idx,
            lambda m, i: f.least(
                m,
                (h * f.element_at(a_arr, i + 1)
                 + f.element_at(b_arr, i + 1)) % f.lit(MINHASH_P),
            ),
        ),
    )


def minhash_signature_array(base_hashes: Column | str,
                            n_hashes: int = 16) -> Column:
    """All ``n_hashes`` minhash values in ONE pass over the shingle-hash
    array: a 16-wide accumulator folded with ``F.aggregate``.  Identical
    values to ``minhash_value(base, i)`` per position, but one traversal
    instead of ``n_hashes`` and ~n_hashes× less generated code (the 16
    separate array_min(transform(...)) columns dominated codegen compile
    time on first run).  A ``str`` argument is a column NAME
    (one-SQL-parse form, r14)."""
    return render(_minhash_signature_array, base_hashes, n_hashes)


def _shingle_signature(f, shingles, n_hashes: int):
    """Spec: base hash + signature fold over a shingle array."""
    return _minhash_signature_array(f, _shingle_base_hash(f, shingles),
                                    n_hashes)


def _band_hash(f, sig, start: int, rows: int):
    return f.md5(f.array_join(
        f.transform(f.slice(sig, start, rows), lambda m: m.cast("string")),
        "|"))


def _banded(sig_df: DataFrame, id_col: str, n_hashes: int, bands: int,
            sig_col: str, keep_sig: bool) -> DataFrame:
    """Explode an (id, signature) DataFrame into one (id[, sig], band, h)
    row per band — THE band-hash construction, shared by the batch LSH
    ops and the persisted index so the two can never band differently
    (mismatched banding silently produces disjoint buckets)."""
    rows = n_hashes // bands
    keep = [F.col(id_col)] + ([F.col(sig_col).alias("sig")] if keep_sig
                              else [])
    withb = sig_df.select(
        *keep,
        *[
            # one SQL parse per band hash (r14)
            render(_band_hash, sig_col, b * rows + 1, rows).alias(f"b{b}")
            for b in range(bands)
        ],
    )
    names = [id_col] + (["sig"] if keep_sig else [])
    return withb.select(
        *names,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("h"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(*names, F.col("bb.band").alias("band"),
             F.col("bb.h").alias("h"))


def _band_buckets(shingled: DataFrame, id_col: str, n_hashes: int,
                  bands: int) -> DataFrame:
    """(id, band, band-hash) rows from an (id, __sh) shingle DataFrame.

    Staged through separate projections so the shingle array, the minhash
    signature and the band hashes are each computed ONCE per row —
    higher-order functions (transform/aggregate) run outside whole-stage
    codegen, so Catalyst's subexpression elimination does not merge
    repeated copies; nesting them 16× deep re-tokenizes the document 16×.
    The signature itself is one single-pass fold (see
    ``minhash_signature_array``).
    """
    base_df = shingled.select(
        F.col(id_col), shingle_base_hash("__sh").alias("__bh")
    )
    sig_df = base_df.select(
        F.col(id_col),
        minhash_signature_array("__bh", n_hashes).alias("__sig"),
    )
    return _banded(sig_df, id_col, n_hashes, bands, "__sig",
                   keep_sig=False)


def shingled(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = 3) -> DataFrame:
    """(id, __sh) projection with the shingle array computed once.
    Fans the input out first: shingling + 16 minhash passes is the
    dominant map cost and must use every core."""
    return fan_out(df).select(
        F.col(id_col), word_shingles(text_col, k).alias("__sh")
    )


def char_shingled(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """(id, __sh) projection of character k-grams, computed once per row
    over a fanned-out input (the char-gram array is ~len(text) entries,
    by far the heaviest map stage of any char-similarity query)."""
    return fan_out(df).select(
        F.col(id_col), char_shingles(text_col, k).alias("__sh")
    )


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs.

    signature → split into ``bands`` bands of ``n_hashes/bands`` rows →
    band hash = md5 of the concatenated band → explode → self-equi-join
    on (band_idx, band_hash).  The join shuffles on the band hash, which
    is uniform md5 — no skew, broadcast-free, scales to any corpus size.
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    # persist the BUCKETS projection, not the shingles: both sides of the
    # self-join read it, and without a persist Spark recomputes the whole
    # tokenize→shingle→md5→signature chain twice (measured 6.7 s vs
    # 3.0 s at sf1, scripts/profile_minhash.py).  Buckets are tiny —
    # (id, band, 32-char hash) × bands rows per doc — so this stays cheap
    # at 100 TB where persisting shingle arrays would not.
    buckets = hold(_band_buckets(shingled(df, text_col, id_col, k),
                                 id_col, n_hashes, bands),
                   "lsh_candidate_pairs")
    right = buckets.withColumnRenamed(id_col, "id_b")
    pairs = (
        buckets.withColumnRenamed(id_col, "id_a")
        .join(right, on=["band", "h"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (deduplicated) shingle arrays."""
    inter = F.array_size(F.array_intersect(a, b))
    union = F.array_size(a) + F.array_size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        n_hashes: int = 16, bands: int = 4,
                        threshold: float = 0.7,
                        persist_shingles: bool | None = None) -> DataFrame:
    """Full near-dup pipeline: LSH candidates, then exact n-gram Jaccard
    verification on the candidate pairs only.

    Two verification strategies with identical results
    (tests/test_fixes.py::test_minhash_strategies_agree):

    - ``persist_shingles=True`` (auto for small inputs): the shingle
      projection is persisted once and feeds both the banding and the
      two verification joins.  Fastest when the whole shingle corpus
      fits in memory; fewest stages.
    - ``persist_shingles=False`` (auto for large inputs — the 100 TB
      shape): only the tiny (id, band, hash) bucket projection and the
      candidate-pair list are persisted; shingles are recomputed for
      candidate DOCUMENTS ONLY (measured 7% of the corpus at sf1,
      scripts/profile_minhash.py).  The full shingle corpus — ~10x the
      input bytes — is never materialized, which is what makes the
      pipeline's memory footprint independent of corpus size; measured
      slope drops from 4.3x to ~2.1x per 10x data (SCALE.md).

    ``persist_shingles=None`` picks by Catalyst's sizeInBytes estimate:
    shingle arrays materialize at roughly 10x the parquet bytes, so
    only a small corpus's full shingle projection fits executor
    storage memory trivially.  The persisted relations back the lazily
    returned frame; see :func:`pydiverse_transform_spark.scope` for
    their lifetime.
    """
    if persist_shingles is None:
        persist_shingles = _small_corpus(df)

    if persist_shingles:
        sh = hold(shingled(df, text_col, id_col, k),
                  "minhash_dedup_pairs.shingles")
        # buckets persisted too: the self-join below otherwise runs the
        # signature fold twice even over persisted shingles
        cands = hold(_band_buckets(sh, id_col, n_hashes, bands),
                     "minhash_dedup_pairs.buckets")
    else:
        sh = None
        cands = hold(_band_buckets(shingled(df, text_col, id_col, k),
                                   id_col, n_hashes, bands),
                     "minhash_dedup_pairs.buckets")
    right = cands.withColumnRenamed(id_col, "id_b")
    pairs = (
        cands.withColumnRenamed(id_col, "id_a")
        .join(right, on=["band", "h"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if sh is None:
        # candidate-only re-shingle: semi-join the raw input down to the
        # documents that appear in a candidate pair (AQE broadcasts the
        # id list when small), shingle just those
        pairs = hold(pairs, "minhash_dedup_pairs.pairs")
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # persisted: both sides of the verification join read it, and it
        # is only the candidate docs (~7% of the corpus at sf1)
        sh = hold(shingled(df.join(cand_ids, id_col), text_col, id_col, k),
                  "minhash_dedup_pairs.shingles")
    a = sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "sh_a")
    b = sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "sh_b")
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_from_hashes(th: Column, bits: int) -> Column:
    out = F.lit(0).cast("long")
    for b in range(bits):
        contrib = F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b) % 2 == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        out = out + F.when(contrib > 0, F.lit(2 ** b)).otherwise(F.lit(0))
    return out


def _token_hashes(text: Column) -> Column:
    """Per-token 32-bit integer hash: first 8 hex chars of md5(token)."""
    from .text import tokens as _tokens

    return F.transform(
        _tokens(F.lower(text)),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
    )


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash fingerprint over whitespace tokens with md5-derived
    per-token hashes.  bit b of the result = sign of the sum over tokens
    of ±1 according to bit b of md5(token).  Pure Catalyst expressions.

    The token-hash array is lambda-bound (util.bind) so the ``bits``
    per-bit folds all read ONE tokenization — same per-row cost as the
    staged :func:`simhash_df`."""
    from .util import bind

    return bind(_token_hashes(text),
                lambda th: _simhash_from_hashes(th, bits))


def simhash_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               bits: int = 16, out_col: str = "sh") -> DataFrame:
    """(id, simhash) with the token-hash array computed once per row."""
    staged = fan_out(df).select(
        F.col(id_col), _token_hashes(F.col(text_col)).alias("__th")
    )
    return staged.select(
        F.col(id_col), _simhash_from_hashes(F.col("__th"), bits).alias(out_col)
    )


# rows above which _cc_driver's labeling frame is returned WITHOUT a
# broadcast hint (r15, ADVICE r14): 2 x the default driver_max_pairs —
# every default-configured route hints (the measured SMJ fix), while a
# user-raised cap with wide ids cannot force an arbitrarily large
# broadcast.  At 8 M rows of (id, id) the built relation is tens of MB
# for numeric ids and low hundreds for long strings — inside the JVM's
# 8 GB / 512M-row broadcast bounds with a wide margin.
_CC_BCAST_MAX_ROWS = 8_000_000


def _cc_driver(pairs: DataFrame, head: list, a: str, b: str) -> DataFrame:
    """Union-find over collected pair rows; returns (node, comp) with
    comp = component minimum, node dtype = the promoted common type of
    the two input columns."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in head:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN so every root is its component's minimum
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    rows.sort()
    # node/comp dtype = the PROMOTED common type of columns a and b
    # (they can differ, e.g. int vs bigint); coalesce makes Catalyst
    # compute the least common type for us — no job runs.
    node_type = (
        pairs.select(F.coalesce(F.col(a), F.col(b)).alias("__t"))
        .schema[0].dataType
    )
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("node", node_type),
        StructField("comp", node_type),
    ])
    # broadcast hint: the labeling is driver-bounded (<= 2 x
    # driver_max_pairs rows of ids), but createDataFrame yields a
    # LogicalRDD with UNKNOWN stats, so without the hint every consumer
    # pays a SortMergeJoin — the corpus-side exchange+sort it exists to
    # avoid (r14, guide §3.1: measured SMJ LeftAnti in q_semdedup /
    # q_semdedup_kprop / q_neardup_corpus plans).  The hint rides
    # through the callers' filter/project into their joins.  r15
    # (ADVICE r14): the hint is GATED on row count — a caller who
    # raised driver_max_pairs far past the default could otherwise
    # force a multi-GB broadcast of wide string ids to every executor
    # where SMJ previously worked; past the gate the frame is returned
    # unhinted and the planner chooses from its own estimates.
    out = pairs.sparkSession.createDataFrame(rows, schema)
    if len(rows) <= _CC_BCAST_MAX_ROWS:
        out = F.broadcast(out)
    return out


def _cut(df: DataFrame) -> DataFrame:
    """Eager lineage cut: reliable checkpoint when a dir is configured,
    local checkpoint otherwise (both CC loops use this every round)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _release_cut(df: DataFrame) -> None:
    """Free a SUPERSEDED eager local checkpoint's storage (r14, guide
    §5: unpersist when done).  A local checkpoint persists its internal
    RDD outside the CacheManager, so ``DataFrame.unpersist`` cannot
    reach it — unpersist the LogicalRDD's backing RDD directly.  Only
    call once nothing will read the frame again (a locally-checkpointed
    RDD cannot be recomputed).  Best-effort: a reliable checkpoint
    (dir set) holds no block-manager storage and the walk is a no-op."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(pairs: DataFrame, a: str = "id_a",
                         b: str = "id_b",
                         max_iter: int = 30,
                         strategy: str = "auto",
                         driver_max_pairs: int = 1_000_000,
                         _rounds_out: list | None = None,
                         _edge_bound: int | None = None) -> DataFrame:
    """(node, comp) for every node in ``pairs``, where ``comp`` is the
    minimum node id in the node's connected component.

    Two physical strategies, identical results:

    - ``driver``: collect the pairs and run union-find in Python.  The
      pair relation is the NARROW end of the dedup funnel (blocking +
      verification already reduced a corpus to its duplicate edges), so
      it usually fits the driver with room to spare, and union-find is
      O(E α(E)) in one process — where the distributed loop pays ~5
      scheduler stages PER ROUND regardless of data (measured ~1.5 s a
      round on a 319-edge graph: the round count was the bill, not the
      volume).  Same adaptive-materialization doctrine as
      ``minhash_dedup_pairs(persist_shingles=)``.
    - ``distributed``: hash-min label propagation WITH POINTER JUMPING —
      each iteration (1) pushes the minimum label one hop (edge join +
      min-aggregate) and (2) jumps pointers (every node adopts its
      label's own label), so label-reach roughly doubles per round and
      the loop converges in O(log diameter) rounds (r6; plain 1-hop
      needed O(diameter)).  Every round CHECKPOINTS its labels — an
      iterative plan that only persists grows its logical tree
      exponentially and OOMs the analyzer around 8-10 rounds; a
      reliable ``checkpoint()`` is used when
      ``sparkContext.setCheckpointDir`` was called, else
      ``localCheckpoint``.  The per-round driver action is a LIMIT-1
      existence probe.  For pathological diameters
      :func:`connected_components_star` remains available.
    - ``auto`` (default): persist the pair projection LIMITed to
      ``driver_max_pairs + 1`` rows and count it (r15) — the cache can
      never hold more than cap+1 two-column rows, so an over-cap
      (billion-edge) graph is detected without ever materializing its
      full edge set.  Under the cap the limited relation IS the full
      relation and the driver route collects it straight from the
      cache (one compute pass, exactly r14's cost); over the cap the
      bounded probe is discarded and the distributed route builds its
      edge relation from the source, which it checkpoints anyway — no
      double materialization.  At known-billion-edge scale pass
      ``strategy="distributed"`` to skip even the bounded probe.
    """
    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"strategy must be auto|driver|distributed, "
                         f"got {strategy!r}")
    # NULL node ids carry no identity: an equality join can never
    # connect them (the distributed path silently dropped them) and
    # they crash Python's ordering in the driver path — drop the pair
    # up front so both strategies agree.
    pairs = pairs.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
    # NOTE on the r6 advice "size by plan_size_bytes before probing":
    # tried in r7 and REVERTED — dedup pair relations are join-derived
    # plans whose Catalyst sizeInBytes is a multiplied join estimate,
    # orders of magnitude above the true (filtered) cardinality; the
    # gate reclassified semdedup's ~300-edge graph as too-big-for-
    # driver and silently re-paid the distributed loop's per-round
    # scheduler bill (q_semdedup 3.4 s -> 8-9 s, caught by the bench).
    # r14: the probe used to be `limit(cap+1).collect()` — but a LIMIT
    # collect is `executeTake`, which ramps partitions 1 -> 4 -> 16 ...
    # (spark.sql.limit.scaleUpFactor) and RE-RUNS the result stage of
    # the pair join each ramp job (measured on q_semdedup: 5 jobs,
    # 0.6+3.0+7.4+1.3+0.3 s, for a relation whose single full pass is
    # a fraction of that).  r15 (VERDICT r14 what's-wrong #1): r14's
    # fix persisted the FULL pair projection before routing, which at
    # a genuinely over-cap graph wrote the whole edge set to cache and
    # then again at the loop's first checkpoint.  The probe now
    # persists `limit(cap+1)` instead: a CACHED LIMIT is one regular
    # job (no executeTake ramp — count() is an aggregate, and the
    # cache materializes the limited rows exactly once), each map task
    # early-terminates at cap+1 rows, and the cache is bounded at
    # cap+1 two-column rows no matter how large the graph is.  Under
    # the cap the limited relation is provably the full relation, so
    # the driver route still collects from cache with zero recompute.
    from pyspark.storagelevel import StorageLevel

    # _edge_bound: a caller-PROVEN upper bound on the edge count (e.g.
    # semdedup's candidate-volume projection — true pairs <= cell
    # candidates).  At or under the driver cap the sizing probe is
    # redundant: collect directly, one pass, no persist/count jobs
    # (r14; the bound makes the collect driver-safe by construction).
    if (_edge_bound is not None and _edge_bound <= driver_max_pairs
            and strategy != "distributed"):
        head = pairs.select(F.col(a), F.col(b)).collect()
        if _rounds_out is not None:
            _rounds_out.append(0)
        return _cc_driver(pairs, head, a, b)

    if strategy != "distributed":
        with owned() as own:
            lim = own.persist(pairs.select(F.col(a), F.col(b))
                              .limit(driver_max_pairs + 1),
                              StorageLevel.MEMORY_AND_DISK)
            # the LIMIT not reached means the cached rows are ALL the
            # rows — the collect reads the cache, no recompute.  Over
            # cap they are an arbitrary cap+1 subset, useless to the
            # distributed route: the block drops them either way.
            head = (lim.collect() if lim.count() <= driver_max_pairs
                    else None)
        if head is not None:
            if _rounds_out is not None:
                _rounds_out.append(0)
            return _cc_driver(pairs, head, a, b)
        if strategy == "driver":
            raise ValueError(
                f"strategy='driver' but the graph exceeds "
                f"driver_max_pairs={driver_max_pairs} edges")

    cut = _cut

    with owned() as own:
        e = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        edges = own.persist(
            e.unionAll(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct(),
            StorageLevel.MEMORY_AND_DISK)
        labels = cut(
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
        # the frame cut() actually returned — .drop() below wraps labels in
        # a Project, so the release must target the checkpoint frame itself
        cut_frame = labels
        rounds = 0
        for _ in range(max_iter):
            rounds += 1
            nbr = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            stepped = (
                labels.join(nbr, labels["node"] == nbr["src"], "left")
                .select(
                    labels["node"].alias("node"),
                    F.least(
                        labels["comp"],
                        F.coalesce(F.col("nbr_comp"), labels["comp"]),
                    ).alias("comp"),
                    labels["comp"].alias("__prev"),
                )
            )
            # pointer jump: comp := min(comp, comp's own comp).  The label
            # value is always a node id of the same component, so the
            # self-join always finds its row; jumping makes the reached
            # minimum spread multiplicatively across rounds.
            ptr = stepped.select(F.col("node").alias("__pn"),
                                 F.col("comp").alias("__pc"))
            jumped_comp = F.least(
                stepped["comp"], F.coalesce(F.col("__pc"), stepped["comp"])
            )
            # the changed flag rides along in the update join, so the
            # convergence probe below scans the checkpointed labels only —
            # no second join, one extra boolean column per round
            new_labels = cut(
                stepped.join(ptr, stepped["comp"] == F.col("__pn"), "left")
                .select(
                    stepped["node"].alias("node"),
                    jumped_comp.alias("comp"),
                    (jumped_comp < stepped["__prev"]).alias("changed"),
                )
            )
            changed = new_labels.filter("changed").limit(1).count()
            # the new checkpoint is materialized (eager) — the previous
            # round's checkpointed labels can be released now instead of
            # accumulating one persisted RDD per round (r14, guide §5:
            # unpersist when done; matters at billion-edge round counts)
            labels = new_labels.drop("changed")
            _release_cut(cut_frame)
            cut_frame = new_labels
            if changed == 0:
                break
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    return labels


def connected_components_star(pairs: DataFrame, a: str = "id_a",
                              b: str = "id_b", max_iter: int = 40,
                              _rounds_out: list | None = None) -> DataFrame:
    """(node, comp) like :func:`connected_components`, via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): converges in O(log² n) ROUNDS
    INDEPENDENT OF GRAPH DIAMETER.  The default distributed strategy,
    hash-min with pointer jumping, needs O(log diameter) rounds (a
    32-hop chain converges in <= 7), and does fewer shuffles per round.

    This remains available for pathological diameters — a 4096-node
    chain finishes in ~6 rounds here (tests/test_connected_components.py).

    Per round: large-star hangs every neighbor v > u onto m = min of
    u's neighborhood; small-star then re-hangs the v <= u side.  Each
    phase is one groupBy(min) + one join on the symmetrized edge list;
    labels checkpoint every round exactly like hash-min (lineage cut).
    Terminates when the edge set is stable (count + one-sided except
    probe — sets are distinct(), so equal count + empty difference ==
    equality); the final edge set is a star per component centered at
    its minimum id.
    """
    cut = _cut

    nodes = (
        pairs.select(F.col(a).alias("n"))
        .unionAll(pairs.select(F.col(b).alias("n")))
        .distinct()
    )
    e = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = cut(e)
    n_edges = e.count()
    rounds = 0

    def phase(edges: DataFrame, large: bool) -> DataFrame:
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = sym.join(mins, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = joined.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).unionAll(mins.select(F.col("u"), F.col("m").alias("v")))
        return (
            out.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v"))
            .distinct()
        )

    for _ in range(max_iter):
        rounds += 1
        new_e = cut(phase(phase(e, large=True), large=False))
        new_n = new_e.count()
        stable = (new_n == n_edges
                  and new_e.exceptAll(e).limit(1).count() == 0)
        # the stability probe was the old edge set's last reader —
        # release its checkpoint before the next round (r14, guide §5)
        _release_cut(e)
        e, n_edges = new_e, new_n
        if stable:
            break
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    # stable star edges: (member, center-min); centers label themselves
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("comp"))
    return nodes.join(labels, nodes["n"] == labels["node"], "left").select(
        F.col("n").alias("node"),
        F.coalesce(F.col("comp"), F.col("n")).alias("comp"),
    )


def neardup_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, k: int = 3,
                  n_hashes: int = 16, bands: int = 4,
                  threshold: float = 0.7,
                  max_iter: int = 30) -> DataFrame:
    """End-to-end near-dup corpus dedup: MinHash-LSH candidate pairs →
    exact Jaccard verification → connected components → keep only the
    canonical (minimum-id) document of every duplicate cluster.  The
    anti-join against the (tiny) non-canonical id set is broadcast by
    Catalyst, so the full corpus is read exactly once."""
    # CC is eager and returns driver rows or checkpointed labels: it is
    # the last reader of the caches minhash_dedup_pairs holds
    with scope():
        pairs = minhash_dedup_pairs(df, text_col, id_col, k=k,
                                    n_hashes=n_hashes, bands=bands,
                                    threshold=threshold)
        cc = connected_components(pairs, max_iter=max_iter)
    dupes = (
        cc.filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(dupes, on=id_col, how="left_anti")


# contaminated_ids(method="auto") crossover: probe TEXT bytes
# (Catalyst plan estimate) above which the distinct-shingle hash
# relation stops being BROADCASTABLE and the Bloom lane takes over.
# This is an operability ceiling, not a perf crossover: r12's
# BLOOM_BENCH measured broadcast beating bloom at every locally
# runnable point INCLUDING the 10M-distinct-shingle / 287 MB-probe
# design-regime block (113.3 vs 124.8 s) — on one box a broadcast is
# free (same JVM) while bloom pays k hash tests per corpus shingle
# row, so bloom's wins are exclusively (a) relations too big to
# broadcast at all and (b) cluster networks where shipping GBs to
# every executor is the bottleneck.  Each probe text byte yields ~1
# word-shingle and a JVM hash relation costs ~100+ bytes/string key,
# so 1 GiB of probe text is a multi-GB relation — brushing Spark's
# 8 GB broadcast hard cap and typical executor headroom; past this,
# broadcast stops being a safe plan and the ~1.2 B/key bitmap is.
_BLOOM_AUTO_PROBE_BYTES = 1 << 30


def _resolve_decon_method(method: str, probe: DataFrame) -> str:
    """The single source of truth for decontamination routing —
    :func:`contaminated_ids` executes what this returns, and the
    scale-bench artifact records the SAME call (so the committed
    route and the shipped route cannot drift).  ``auto`` maps to
    ``broadcast`` while Catalyst's size estimate of the probe plan is
    provably under ``_BLOOM_AUTO_PROBE_BYTES``; anything larger —
    including the stats-UNKNOWN sentinel — routes to ``bloom`` (never
    broadcast a relation you cannot prove small)."""
    if method not in ("auto", "broadcast", "bloom"):
        raise ValueError(
            f"method must be 'auto', 'broadcast' or 'bloom', "
            f"got {method!r}")
    if method == "auto":
        from .util import plan_size_bytes

        return ("broadcast"
                if plan_size_bytes(probe) <= _BLOOM_AUTO_PROBE_BYTES
                else "bloom")
    return method


def contaminated_ids(df: DataFrame, probe: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     *, k: int = 3,
                     probe_text_col: str | None = None,
                     method: str = "broadcast",
                     fpp: float = 0.01) -> DataFrame:
    """ids of corpus documents sharing at least one k-word shingle with
    ``probe`` (benchmark/eval-set decontamination).

    ``method="broadcast"`` (default): the probe's distinct shingle set
    is broadcast as a hash relation and the semi-join never shuffles
    the corpus: at 100 TB this is one map-side pass over the documents
    (explode + broadcast hash semi-join + partial-distinct on the id).
    Right while the probe fits a broadcast (~100+ bytes/shingle as a
    JVM hash relation).

    ``method="bloom"``: for probe sets too large to broadcast as a
    hash relation (a full eval-suite can reach 10^7..10^8 distinct
    shingles — gigabytes as strings, ~1.2 bytes/key as a Bloom bitmap
    at fpp=0.01).  The corpus-side prefilter stays map-only (one-row
    bitmap broadcast + codegen bit tests, no false negatives); only
    the ~fpp surviving candidate shingle rows reach the exact verify
    semi-join, which Catalyst/AQE plans as a shuffle of CANDIDATES —
    never the corpus — against the probe.  Results are identical to
    the exact method (the verify join removes every false positive).
    The probe's shingle relation is persisted for the call (r12): the
    bitmap build (count + bit-word aggregate) and the exact verify all
    read the SAME materialized shingles instead of re-exploding the
    probe text three times.

    ``method="auto"``: routes on Catalyst's free size estimate of the
    probe plan — ``broadcast`` while the probe text fits
    ``_BLOOM_AUTO_PROBE_BYTES`` (the distinct-shingle hash relation is
    then comfortably under Spark's broadcast comfort zone; r11 bench:
    broadcast beat bloom at every such point), ``bloom`` above it
    (where the hash relation is the multi-GB regime the bitmap
    exists for).  Stats-UNKNOWN probe plans (RDD-backed
    ``createDataFrame`` frames, plans behind stats-erasing wide
    transforms) route to ``bloom`` BY DESIGN: auto never broadcasts a
    relation it cannot prove small — the conservative lane is exact
    either way, merely slower for a genuinely tiny in-memory probe
    (pass ``method="broadcast"`` explicitly when you know).  This
    mirrors the UNKNOWN handling on ``_resolve_probe_strategy``.

    The bloom lane's persisted probe shingles back the lazily
    returned join: inside :func:`pydiverse_transform_spark.scope` they
    are released when the scope exits, outside one by the next
    bloom-lane call on a different probe.
    """
    from pyspark.sql.functions import broadcast

    from .bloom import bloom_build, bloom_filter_hits

    method = _resolve_decon_method(method, probe)

    doc_sh = shingled(df, text_col, id_col, k).select(
        id_col, F.explode("__sh").alias("__psh")
    )
    probe_sh = (
        probe.select(
            F.explode(
                word_shingles(probe_text_col or text_col, k)
            ).alias("__psh")
        )
        .distinct()
    )
    if method == "bloom":
        # shingle the probe ONCE: bloom_build's n_items count
        # materializes the cache, the bit-word aggregate and the exact
        # verify below then read it
        probe_sh = hold(probe_sh, "contaminated_ids")
        bloom = bloom_build(probe_sh, "__psh", fpp=fpp)
        doc_sh = bloom_filter_hits(doc_sh, bloom, "__psh")
        # exact verify over survivors only — NO broadcast hint: at
        # bloom-scale probes the planner must be free to shuffle the
        # (small) candidate set instead of broadcasting the probe.
        return (
            doc_sh.join(probe_sh, "__psh", "left_semi")
            .select(id_col)
            .distinct()
        )
    return (
        doc_sh.join(broadcast(probe_sh), "__psh", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(df: DataFrame, probe: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  *, k: int = 3,
                  probe_text_col: str | None = None,
                  method: str = "broadcast",
                  fpp: float = 0.01) -> DataFrame:
    """Drop every corpus document that shares a k-word shingle with the
    probe set (anti-join against :func:`contaminated_ids`)."""
    bad = contaminated_ids(df, probe, text_col, id_col, k=k,
                           probe_text_col=probe_text_col,
                           method=method, fpp=fpp)
    return df.join(bad, on=id_col, how="left_anti")


# =============================================================================
# Substring-level (span) dedup — the ExactSubstr operation of Lee et al.,
# "Deduplicating Training Data Makes Language Models Better" (ACL 2022),
# re-expressed for Spark.  The paper builds a corpus-wide suffix array to
# find every duplicated >=50-token span; a suffix array over 100 TB is not a
# Spark-shaped structure, so this uses the standard distributed
# approximation: hash every WINDOW-token sliding window, find window hashes
# that occur more than once, and cut every non-canonical occurrence out of
# its document while keeping the (min doc_id, min pos) canonical copy.
# A duplicated span of length L >= WINDOW produces L - WINDOW + 1 duplicated
# windows whose removal intervals merge back into the full span, so span
# recovery is exact for stride=1 (the default).
#
# Scale notes (100 TB target):
# - the occurrence table is the dominant shuffle: n_tokens/stride rows of
#   (id, pos, md5 hex) shuffled by hash exactly once in either strategy
#   (see substring_dedup's dup_strategy for the sort-vs-rescan trade);
# - the duplicated-hash table is tiny relative to the corpus (only hashes
#   with count >= 2 survive), so under dup_strategy="rescan" AQE converts
#   the occ-join back to a broadcast join at runtime;
# - interval merging runs only over non-canonical duplicate occurrences
#   (a per-document window function on the *bad* rows, not the corpus);
# - document rebuild is map-side: the merged intervals ride along as one
#   array column and every token is kept/dropped by a codegen `exists`
#   over that array — no per-token shuffle, no Python.
# - stride > 1 divides the occurrence-table cost by stride but only
#   detects copies whose window alignment matches mod stride (whole-doc or
#   prefix-aligned copies); use it as a cost knob for coarse passes only.
# =============================================================================


def _span_tokens(text: Column) -> Column:
    """Whitespace tokens; null/empty text -> empty array (never null)."""
    from .text import tokens as _tokens

    return F.coalesce(_tokens(text), F.array().cast("array<string>"))


def span_occurrences(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", *, window: int = 8,
                     stride: int = 1,
                     _binary: bool = False) -> DataFrame:
    """One row per sliding ``window``-token window of every document:
    (id_col, pos, h) where ``pos`` is the 0-based token offset and ``h``
    the md5 of the space-joined window.  Documents shorter than
    ``window`` tokens produce no rows.

    ``_binary`` (internal, r15, guide §2.3 "shuffle fewer bytes"):
    emit ``h`` as the 16-byte ``unhex(md5)`` binary instead of the
    32-char hex string.  The occurrence table is THE dominant shuffle
    of the substring-dedup family (~1 row per corpus token), and the
    hash is half its payload — the internal lanes shuffle/sort/join
    the binary form and convert back to hex only at public boundaries
    (``unhex`` is injective on md5 output, so every equality,
    grouping and join is unchanged)."""
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = _span_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), toks.alias("__toks"),
        F.array_size(toks).alias("__n"),
    )
    h = F.md5(
        F.concat_ws(" ", F.slice("__toks", F.col("pos") + 1, window))
    )
    if _binary:
        h = F.unhex(h)
    return (
        base.filter(F.col("__n") >= window)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(0), F.col("__n") - window, F.lit(stride))
            ).alias("pos"),
            F.col("__toks"),
        )
        .select(id_col, "pos", h.alias("h"))
    )


def _duplicate_spans_binary(df: DataFrame, text_col: str, id_col: str,
                            *, window: int, stride: int) -> DataFrame:
    """:func:`duplicate_spans` with ``h`` left in the internal 16-byte
    binary form (r15) — the rescan lane joins it against a binary
    occurrence table without paying the hex round-trip."""
    occ = span_occurrences(df, text_col, id_col,
                           window=window, stride=stride, _binary=True)
    return (
        occ.groupBy("h")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__c"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            "h", "n_occurrences",
            F.col(f"__c.{id_col}").alias("canon_id"),
            F.col("__c.pos").alias("canon_pos"),
        )
    )


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, window: int = 8,
                    stride: int = 1) -> DataFrame:
    """Window hashes occurring more than once corpus-wide (within-doc
    repeats count), with occurrence count and the canonical occurrence
    (lexicographic min of (id, pos)): (h, n_occurrences, canon_id,
    canon_pos).

    Scale shape (r15): the corpus-token-sized aggregation runs over
    the 16-byte BINARY hash (half the exchange payload of the hex
    string — guide §2.3); ``h`` converts back to the documented
    lowercase-hex form only on the aggregated output, which holds one
    row per DUPLICATED hash — tiny next to the occurrence table."""
    return _duplicate_spans_binary(
        df, text_col, id_col, window=window, stride=stride,
    ).withColumn("h", F.lower(F.hex(F.col("h"))))


_SPAN_PROBE_MIN_SUPPORT = 100


def _route_span_strategy(df: DataFrame, text_col: str, id_col: str, *,
                         window: int, stride: int,
                         skew_threshold: int,
                         sample_pct: float) -> str:
    """Pick ``sort`` vs ``rescan`` for :func:`substring_dedup` by
    MEASURING span skew instead of guessing: estimate the max
    corpus-wide occurrence count of any single window hash from a
    deterministic ~``sample_pct``% document sample (id-hash Bernoulli —
    no RNG, pure function of the rows), and route to ``rescan`` when
    the estimate reaches ``skew_threshold``.

    The probe costs one sampled tokenize+md5 pass plus a tiny groupBy —
    at the default 1% that is ~1% of the main job's map work.  It
    measures CROSS-document boilerplate (the case ``rescan`` fixes); a
    bomb concentrated in a handful of giant documents can be missed by
    a document-level sample, but that shape piles into the per-document
    interval-merge window under EITHER strategy, so routing would not
    help it anyway."""
    f = max(min(sample_pct, 100.0), 1e-4) / 100.0
    sampled = df if f >= 1.0 else df.filter(
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(1_000_000))
        < F.lit(int(f * 1_000_000)))
    row = (
        span_occurrences(sampled, text_col, id_col,
                         window=window, stride=stride, _binary=True)
        .groupBy("h").count()
        .agg(F.max("count").alias("m")).collect()[0]
    )
    top = row["m"]
    if top is None:
        return "sort"
    # minimum support before trusting the 1/f extrapolation: a lone
    # sampled occurrence says nothing about corpus-wide skew, but at
    # the clamped floor (sample_pct=1e-4 -> f=1e-6) it would scale to
    # 10^6 and route EVERY corpus to rescan.  ~100 sampled occurrences
    # of one hash is real evidence of boilerplate (relative error of
    # the scaled estimate ~1/sqrt(100)=10%); below it, default to the
    # faster sort path — an undetected bomb still executes correctly
    # there, just slower.
    if top < _SPAN_PROBE_MIN_SUPPORT:
        return "sort"
    return "rescan" if top / f >= skew_threshold else "sort"


# spill-aware sizing for the sort lane's occurrence window (r13,
# VERDICT r12 next #3): target bytes one window task should sort, and
# the measured expansion from the INPUT's Catalyst plan bytes
# (compressed parquet) to the occurrence table's shuffle bytes
# (~1 occurrence row per token; each row id+pos+md5hex ≈ 56 B
# serialized vs ~2.5 compressed bytes per token of source text —
# measured 22.35/22.66 at sf1/sf10, scripts/bench_substring_sf100.py).
_SPAN_SORT_TASK_BYTES = 128 << 20
_SPAN_OCC_BYTES_PER_PLAN_BYTE = 22


def _spansort_spread(df: DataFrame, occ: DataFrame) -> DataFrame:
    """Pre-partition the occurrence table on the window key so the
    sort lane's WindowExec sorts ~``_SPAN_SORT_TASK_BYTES`` per task
    regardless of corpus size.  Without this the window's
    ENSURE_REQUIREMENTS exchange uses ``spark.sql.shuffle.partitions``
    (32 in the scale sweeps): at sf100 that is 32 CONCURRENT ~1 GB
    task sorts — the peak-allocation regime where r12's in-sweep run
    lost an executor inside WindowExec.  ``repartition(n, "h")``
    produces hashpartitioning(h, n), which satisfies the window's
    clustered-distribution requirement, so this REPLACES the implicit
    exchange rather than adding one (pinned in test_r13_fixes).  Plans
    the optimizer cannot size (UNKNOWN) and corpora small enough for
    the session default keep their plan byte-identical."""
    from .util import UNKNOWN_PLAN_SIZE, plan_size_bytes

    nb = plan_size_bytes(df)
    if nb == UNKNOWN_PLAN_SIZE:
        return occ
    want = (nb * _SPAN_OCC_BYTES_PER_PLAN_BYTE) // _SPAN_SORT_TASK_BYTES
    try:
        # some platforms set this conf to a non-numeric token (e.g.
        # "auto"); a sizing heuristic must degrade to a no-op there,
        # not fail the sort lane (r13 advice)
        cur = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return occ
    if want <= cur:
        return occ
    return occ.repartition(int(min(want, 4096)), "h")


def substring_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, window: int = 8,
                    stride: int = 1,
                    clean_col: str = "clean_text",
                    dup_strategy: str = "auto",
                    skew_threshold: int = 1_000_000,
                    skew_sample_pct: float = 1.0) -> DataFrame:
    """Cross-document substring dedup: every non-canonical occurrence of
    a duplicated ``window``-token window is cut out of its document; the
    canonical (min (id, pos)) occurrence is kept.  Adds ``clean_col``
    (survivor tokens re-joined with single spaces — whitespace is
    normalized, same contract as
    :func:`~pydiverse_transform_spark.extras.text.remove_repeated_segments`),
    ``n_tokens_before`` and ``n_tokens_after`` to the input columns.

    ``dup_strategy`` picks how non-canonical occurrences are found; both
    return identical rows (canonical = lexicographic min of (id, pos)):

    - ``"sort"`` — ONE pass over the corpus: shuffle the
      occurrence table by hash and take count/row_number window
      functions.  Half the tokenize+md5 map CPU of ``rescan`` and the
      same single ~n_tokens-row shuffle (near-unique md5 keys mean the
      groupBy's map-side partial agg reduces almost nothing anyway).
      Measured 1.5× faster end-to-end at sf0.1.
    - ``"rescan"`` — aggregate duplicated hashes (tiny), then re-derive
      the occurrence table and broadcast-join it against them.  The
      corpus is tokenized+hashed twice, but the occurrence table itself
      is never range-sorted: a pathological hash duplicated 10⁸ times
      (global boilerplate) streams through a map-side broadcast join
      instead of piling into one window partition's sort.  Use for
      corpora with extreme span skew.
    - ``"auto"`` (default) — MEASURE instead of guess
      (:func:`_route_span_strategy`): estimate the hottest window
      hash's corpus-wide occurrence count from a deterministic
      ``skew_sample_pct``% document sample (one cheap sampled
      tokenize+groupBy job at plan-build time) and take ``rescan``
      when the estimate reaches ``skew_threshold`` occurrences, else
      ``sort``.  The extrapolation needs minimum support: fewer than
      100 sampled occurrences of the hottest hash is noise, not
      evidence, and routes to ``sort``.  The default threshold (10⁶)
      is where one hash's window partition becomes a ~60 MB
      single-task sort (docs/SCALE_KNOBS.md).  NOTE ``"auto"`` makes
      this otherwise-lazy plan builder launch an EAGER sampled Spark
      job at call time — pin ``dup_strategy="sort"`` (or ``"rescan"``)
      to keep it lazy, e.g. when embedding the call in a
      ``foreachBatch`` hook or when the corpus is known
      boilerplate-free.

    Guarantee (stride=1): every duplicated span of length >= ``window``
    loses all but its canonical copy, and the removal intervals of the
    span's overlapping windows merge into one exact cut.  A canonical
    occurrence can still lose tokens to a *different* overlapping
    duplicated window's cut — window-level canonicalization is
    per-hash, not per-maximal-span (the suffix-array construction the
    paper uses is what buys that, at a cost that does not distribute).
    """
    if dup_strategy not in ("auto", "sort", "rescan"):
        raise ValueError("dup_strategy must be 'auto', 'sort' or "
                         f"'rescan', got {dup_strategy!r}")
    if dup_strategy == "auto":
        dup_strategy = _route_span_strategy(
            df, text_col, id_col, window=window, stride=stride,
            skew_threshold=skew_threshold, sample_pct=skew_sample_pct)

    from pyspark.sql import Window as W

    # internal lanes carry the 16-byte binary hash (r15, guide §2.3):
    # the occurrence exchange/sort is the operator's dominant shuffle
    # and the hex string was half its payload; h never reaches the
    # output, so the form is free to change
    occ = span_occurrences(df, text_col, id_col,
                           window=window, stride=stride, _binary=True)
    if dup_strategy == "sort":
        occ = _spansort_spread(df, occ)
        wh = W.partitionBy("h")
        wr = W.partitionBy("h").orderBy(id_col, "pos")
        bad = (
            occ.withColumn("__cnt", F.count("*").over(wh))
            .withColumn("__rn", F.row_number().over(wr))
            .filter((F.col("__cnt") >= 2) & (F.col("__rn") > 1))
            .select(id_col, F.col("pos").alias("s"),
                    (F.col("pos") + window).alias("e"))
        )
    else:
        dup = _duplicate_spans_binary(df, text_col, id_col,
                                      window=window, stride=stride)
        bad = (
            occ.join(dup.select("h", "canon_id", "canon_pos"), "h")
            .filter(
                ~((F.col(id_col) == F.col("canon_id"))
                  & (F.col("pos") == F.col("canon_pos")))
            )
            .select(id_col, F.col("pos").alias("s"),
                    (F.col("pos") + window).alias("e"))
        )

    w = W.partitionBy(id_col).orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    merged = (
        bad.withColumn(
            "__new",
            F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
            .otherwise(0),
        )
        .withColumn("__g", F.sum("__new").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy(id_col, "__g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("__ivs"))
    )

    toks = _span_tokens(F.col(text_col))
    base = df.withColumn("__toks", toks)
    joined = base.join(merged, id_col, "left")
    kept = F.when(F.col("__ivs").isNull(), F.col("__toks")).otherwise(
        F.filter(
            F.transform(
                "__toks",
                lambda t, i: F.when(
                    ~F.exists(
                        "__ivs",
                        lambda iv: (iv["s"] <= i) & (i < iv["e"]),
                    ),
                    t,
                ),
            ),
            lambda t: t.isNotNull(),
        )
    )
    return (
        joined.withColumn("n_tokens_before",
                          F.array_size("__toks").cast("long"))
        .withColumn("__kept", kept)
        .withColumn(clean_col, F.concat_ws(" ", F.col("__kept")))
        .withColumn("n_tokens_after",
                    F.array_size("__kept").cast("long"))
        .drop("__toks", "__kept", "__ivs")
    )


# =============================================================================
# Persisted MinHash-LSH index — incremental near-dup for a GROWING corpus.
#
# The batch ops above recompute LSH corpus-wide per run; at 100 TB a daily
# increment must instead probe (and extend) a PERSISTED bucket table:
#
# - the index is plain parquet partitioned by ``band`` with rows
#   (id, band, h, sig): model-free and row-independent, so incremental
#   maintenance is a pure parquet APPEND — no refit, no journaled swap
#   (contrast extras/similarity.py's IVF-PQ index, whose coarse/PQ model
#   makes folds necessary);
# - a ``.__minhash_meta.json`` sidecar freezes the hashing parameters
#   (k, n_hashes, bands, char/word), so probes always band EXACTLY like
#   the rows already in the index — mixing parameters silently produces
#   disjoint buckets, which the sidecar makes impossible;
# - lookups join probe buckets against the index on (band, h): the probe
#   side is the increment (small), so it broadcasts and THE INDEX IS
#   NEVER SHUFFLED — lookup cost is one index scan however the corpus
#   grew.  Large probes fall back to a plain shuffle equi-join
#   (``probe_strategy``);
# - similarity at lookup time is the ESTIMATED Jaccard (fraction of
#   agreeing signature positions — the standard MinHash estimator),
#   computed from the stored signatures alone: the corpus TEXT is never
#   read again.  E[estimate] = true Jaccard with sd <= 1/(2*sqrt(n_hashes));
#   for exact-Jaccard verification join the survivors back to the corpus
#   and use ``jaccard()``.
# =============================================================================

MINHASH_META_FILE = ".__minhash_meta.json"


def _minhash_buckets_sig(df: DataFrame, text_col: str, id_col: str,
                         k: int, n_hashes: int, bands: int,
                         char: bool) -> DataFrame:
    """(id, sig, band, h) rows: the `_banded` construction (shared with
    `_band_buckets`, so batch LSH and the persisted index band
    identically) plus the full signature carried on every row (16 longs
    × bands per doc — the estimator's input, so lookups never re-read
    text)."""
    sh = (char_shingled(df, text_col, id_col, k) if char
          else shingled(df, text_col, id_col, k))
    sig_df = sh.select(
        F.col(id_col),
        # base-hash + 16-wide signature fold as ONE SQL parse (r14)
        render(_shingle_signature, "__sh", n_hashes).alias("sig"),
    )
    return _banded(sig_df, id_col, n_hashes, bands, "sig",
                   keep_sig=True)


def write_minhash_index(df: DataFrame, path: str, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, n_hashes: int = 16, bands: int = 4,
                        char: bool = False) -> None:
    """Build a persisted LSH index over ``df`` at ``path``: bucket rows
    partitioned by ``band`` + the parameter sidecar.  One map pass over
    the corpus, one partitioned write — no shuffle (the band explode is
    map-side and the writer splits partition dirs per task)."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by "
                         f"bands={bands}")
    _minhash_buckets_sig(df, text_col, id_col, k, n_hashes, bands,
                         char).write.mode("overwrite") \
        .partitionBy("band").parquet(path)
    fs_write_json(df.sparkSession, path + "/" + MINHASH_META_FILE, {
        "format": "minhashlsh/1", "k": k, "n_hashes": n_hashes,
        "bands": bands, "char": char, "id_col": id_col,
        "text_col": text_col,
        # appends cast arriving ids to this type WITHOUT re-listing the
        # index files per increment
        "id_type": df.schema[id_col].dataType.simpleString(),
    })


def read_minhash_meta(spark, path: str) -> dict:
    """Load the parameter sidecar of a :func:`write_minhash_index`
    index."""
    try:
        meta = fs_read_json(spark, path + "/" + MINHASH_META_FILE)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no {MINHASH_META_FILE} under {path!r} — not a "
            "write_minhash_index root")
    if meta.get("format") != "minhashlsh/1":
        raise ValueError(f"unknown minhash index format: "
                         f"{meta.get('format')!r}")
    return meta


def _probe_buckets(meta: dict, probe: DataFrame) -> DataFrame:
    """(probe_id, __psig, band, h) bucket rows of a probe frame under
    the index's sidecar parameters."""
    return _minhash_buckets_sig(
        probe, meta["text_col"], meta["id_col"], meta["k"],
        meta["n_hashes"], meta["bands"], meta["char"],
    ).select(F.col(meta["id_col"]).alias("probe_id"),
             F.col("sig").alias("__psig"), "band", "h")


def _append_probe_buckets(path: str, meta: dict,
                          pb: DataFrame) -> None:
    """Parquet-append (probe_id, __psig, band, h) rows into the index's
    band partitions under the index's own column names.  The id column
    is cast to the type the index files already store — appending a
    lookalike type (int ids into a long-id index) writes mixed-schema
    files that crash later reads with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH.  Integral NARROWING raises
    instead of silently wrapping out-of-range ids.  The target type
    comes from the sidecar (no per-append index listing); pre-r8
    sidecars without it fall back to one schema read."""
    from pyspark.sql.types import _parse_datatype_string

    from .similarity import _check_integral_narrowing

    if meta.get("id_type"):
        id_type = _parse_datatype_string(meta["id_type"])
    else:
        id_type = (pb.sparkSession.read.parquet(path)
                   .schema[meta["id_col"]].dataType)
    _check_integral_narrowing(pb.schema["probe_id"].dataType, id_type,
                              meta["id_col"], id_col=True)
    pb.select(F.col("probe_id").cast(id_type).alias(meta["id_col"]),
              F.col("__psig").alias("sig"), "band", "h") \
        .write.mode("append").partitionBy("band").parquet(path)


def _est_jaccard_expr(meta: dict):
    """Signature-agreement estimate of a joined bucket row — depends
    ONLY on the two signature arrays already present on the row, so it
    compiles MAP-SIDE wherever it is used (both lookup lanes)."""
    return (
        F.aggregate(
            F.zip_with(F.col("__psig"), F.col("sig"),
                       lambda a, b: (a == b).cast("int")),
            F.lit(0), lambda acc, x: acc + x,
        ).cast("double") / F.lit(float(meta["n_hashes"]))
    )


def _lookup_from_buckets(spark, path: str, meta: dict, pb: DataFrame,
                         threshold: float, probe_strategy: str,
                         min_bands: int = 1,
                         top_k: int | None = None) -> DataFrame:
    if min_bands < 1:
        raise ValueError(f"min_bands must be >= 1, got {min_bands}")
    if top_k is not None and top_k < 1:
        raise ValueError(f"top_k must be >= 1 or None, got {top_k}")
    if probe_strategy == "broadcast":
        pb = F.broadcast(pb)
    from ..sources import spark_read_parquet as _srp
    idx = _srp(spark, path)
    est = _est_jaccard_expr(meta)
    # est depends ONLY on the two signature arrays already present on
    # every joined bucket row, and every bucket row of one
    # (probe, index) pair carries the SAME two signatures — so the
    # estimator runs MAP-SIDE, pre-aggregation (r12).  A pair that
    # fails the threshold fails it on every one of its rows, so the
    # threshold filter is map-side too, and the dedup/governor shuffle
    # then carries only (probe_id, index_id, band, est) for PASSING
    # pairs — one double instead of two 16-long signature arrays, and
    # the 576k-candidate tail (MINHASH_INDEX_r09) never reaches the
    # exchange at all.  The estimator work this duplicates across a
    # pair's <= bands rows is n_hashes integer compares per row —
    # noise next to the shuffle bytes it saves (r11's governed path
    # shipped both sigs through groupBy and lost 1.5x to ungoverned).
    cand = (
        idx.join(pb, on=["band", "h"], how="inner")
        .select("probe_id",
                F.col(meta["id_col"]).alias("index_id"),
                "band", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )
    if min_bands > 1:
        # candidate-volume governor (r10): a pair must collide in
        # >= min_bands DISTINCT bands.  The band evidence is a BITMASK
        # aggregate — bit_count(bit_or(1 << band)) — whenever the
        # index has <= 64 bands (every practical geometry; n_hashes
        # caps bands).  One exchange, one codegen hash aggregation
        # with map-side partial combine: r12 measured the alternatives
        # on the sf100 dup-saturated corpus (281M passing candidate
        # rows, 45.9M governed pairs) — collect_set+first is an
        # ObjectHashAggregate (~+50 s of per-group set objects),
        # countDistinct compiles to a second full exchange of the
        # deduped relation (~+70 s); the bitmask runs at ungoverned
        # parity (166.9 s vs 163.7-191.6 s).  DISTINCT bands, not row
        # count: at-least-once replayed appends duplicate bucket ROWS,
        # which must not fake band evidence — bit_or is idempotent on
        # replays by construction.  The group key is (probe_id,
        # index_id) ONLY, est aggregated with max() (r12 advice): an
        # id re-appended with a DIFFERENT signature (document edited
        # between increments) would otherwise split one pair across
        # est-distinct groups — each can fail min_bands the pair as a
        # whole passes, and survivors emit duplicate (probe, index)
        # rows that top_k then counts twice.  max(est) = the pair's
        # best evidence across its stored versions, matching the
        # ungoverned lane below.
        if int(meta["bands"]) <= 64:
            nb = F.bit_count(F.bit_or(F.call_function(
                "shiftleft", F.lit(1).cast("long"),
                F.col("band").cast("int"))))
        else:
            nb = F.countDistinct("band")
        cand = (
            cand.groupBy("probe_id", "index_id")
            .agg(F.max("est_jaccard").alias("est_jaccard"),
                 nb.alias("__nb"))
            .filter(F.col("__nb") >= min_bands)
        )
    else:
        # same hash-aggregate shape as dropDuplicates, but max(est)
        # makes the surviving estimate DETERMINISTIC when an id holds
        # several signatures (dropDuplicates keeps an arbitrary row);
        # single-signature ids — the normal case — are bit-identical
        cand = (cand.groupBy("probe_id", "index_id")
                .agg(F.max("est_jaccard").alias("est_jaccard")))
    out = cand.select("probe_id", "index_id", "est_jaccard")
    if top_k is not None:
        # per-probe early exit: keep only the top_k best estimates per
        # probe doc (deterministic tie-break on index_id).  A
        # row_number window whose filter Spark 4 rewrites to a
        # WindowGroupLimit (partial per-map-task top-k BEFORE the
        # exchange), so only ~top_k rows per (probe, task) reach the
        # shuffle; input is already min_bands + threshold survivors.
        from pyspark.sql import Window

        w = (Window.partitionBy("probe_id")
             .orderBy(F.col("est_jaccard").desc(),
                      F.col("index_id").asc()))
        out = (out.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") <= top_k).drop("__rn"))
    return out


def _probe_hits_exists(spark, path: str, meta: dict, pb: DataFrame,
                       threshold: float, probe_strategy: str,
                       exclude_index_ids: DataFrame | None = None
                       ) -> DataFrame:
    """Distinct ``probe_id``s with ANY indexed near-dup at
    ``est_jaccard >= threshold`` — the EXISTS-semantics lane for the
    ingest dedup paths (``neardup_filter_new``,
    ``streaming.neardup_ingest_stream``), r14.

    Recall-IDENTICAL to
    ``_lookup_from_buckets(...).select("probe_id").distinct()``: the
    estimator is computed map-side per bucket row and is CONSTANT
    across a (probe, index) pair's rows (every row carries the same
    two signatures), so "any row passes the threshold" is exactly
    "the pair's best estimate passes" — the set of flagged probe ids
    cannot differ.  What changes is the SHUFFLE SHAPE: the pair lane's
    ``groupBy(probe_id, index_id)`` exchanges one row per passing
    PAIR, which on a dup-saturated index grows with index dup density
    — a backfill-sized increment against the sf100 corpus emits the
    230M-pair wall that r13's governor had to prune for
    ``minhash_index_lookup`` (SCALE_BENCH_r12/r13 ungoverned rows).
    This lane instead partial-aggregates ``distinct(probe_id)``
    map-side, so each task emits at most |distinct probe ids| rows
    and the exchange is bounded by the INCREMENT size regardless of
    index saturation.  No governor, no recall trade, no warning: the
    ingest contract only ever needs "exists a near-dup", never the
    pairs themselves, so the early exit is exact — this is the
    exists-semantics shortcut over governed pruning (which would
    silently ADMIT duplicates whose pairs were pruned).

    ``exclude_index_ids``: optional 1-column frame named ``index_id``
    whose index-side evidence is ignored (streaming replay protection
    — a replayed batch must not match its OWN admitted rows).  The
    anti-join runs BEFORE the distinct, map-side when the frame is
    broadcastable (micro-batches are; AQE decides, no forced hint —
    a backfill-shaped exclusion degrades to a shuffle, not an OOM).
    """
    if probe_strategy == "broadcast":
        pb = F.broadcast(pb)
    from ..sources import spark_read_parquet as _srp
    idx = _srp(spark, path)
    # same rounding as the pair lane so boundary estimates pass or
    # fail the threshold identically in both lanes
    cand = (
        idx.join(pb, on=["band", "h"], how="inner")
        .filter(F.round(_est_jaccard_expr(meta), 6) >= threshold)
        .select("probe_id", F.col(meta["id_col"]).alias("index_id"))
    )
    if exclude_index_ids is not None:
        cand = cand.join(exclude_index_ids, on="index_id",
                         how="left_anti")
    return cand.select("probe_id").distinct()


def _resolve_probe_strategy(probe_strategy: str,
                            probe: DataFrame) -> str:
    if probe_strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown probe_strategy {probe_strategy!r}")
    if probe_strategy == "auto":
        return "broadcast" if _small_corpus(probe) else "shuffle"
    return probe_strategy


def minhash_index_append(spark, path: str, new_docs: DataFrame) -> None:
    """Fold an increment into the index: hash ``new_docs`` with the
    SIDECAR's parameters and parquet-append its bucket rows.  Rows are
    model-free, so this is exact — an appended index equals one built
    from the unioned corpus (pinned by test_minhash_index).  Appending
    the same ids twice duplicates their rows (LSH candidates dedupe at
    lookup, but estimates then pair a doc with itself — dedupe ids
    upstream).  Run :func:`minhash_index_maintain` when appends
    accumulate small files or at-least-once replays accumulate
    duplicate rows."""
    meta = read_minhash_meta(spark, path)
    _append_probe_buckets(path, meta, _probe_buckets(meta, new_docs))


def minhash_index_recover(spark, path: str) -> str | None:
    """Finish or roll back an INTERRUPTED :func:`minhash_index_maintain`
    swap without running maintenance.  A crash inside the swap window
    (between the two directory renames) leaves no directory at
    ``path``; any code that starts with ``read_minhash_meta`` —
    including :func:`streaming.neardup_ingest_stream`'s constructor —
    would fail with FileNotFound before maintenance-side recovery could
    run.  ``neardup_ingest_stream`` calls this automatically at stream
    construction; call it manually when another process reads the index
    after a crashed maintenance run.  Safe no-op (returns ``None``)
    when no swap journal exists.  Decision table:
    :func:`extras.util.recover_swap`."""
    return recover_swap(spark, path)


def minhash_index_maintain(spark, path: str, *,
                           dedup_rows: bool = True,
                           target_file_bytes: int = 128 << 20) -> dict:
    """One-call maintenance for a :func:`write_minhash_index` root:
    rewrite the bucket table compacted (daily appends accumulate
    batch-sized small files) and — ``dedup_rows=True`` — with duplicate
    (id, band) rows dropped, then atomically SWAP the fresh layout in.
    Replayed at-least-once streaming appends
    (:func:`streaming.neardup_ingest_stream`) are the duplicate
    source: duplicates change no lookup RESULT (candidates dedupe on
    ids) but bloat every scan and pair each hot bucket row against the
    probe twice.

    Crash-safety is the journaled swap of :func:`extras.util.swap_in`
    (shared with :func:`similarity.ivfpq_maintain`), with no
    staging/checkpoint roots: the minhash index is model-free, so
    appends need no fold.  Returns compact stats +
    {"recovered": <action or None>}."""
    from ..sources.sinks import compact_parquet

    def build(new_path: str) -> dict:
        meta = read_minhash_meta(spark, path)
        stats = compact_parquet(
            spark, path, new_path, target_file_bytes=target_file_bytes,
            partition_by=["band"],
            dedup_cols=[meta["id_col"], "band"] if dedup_rows else None,
        )
        fs_write_json(spark, new_path + "/" + MINHASH_META_FILE, meta)
        return stats

    return swap_in(spark, path, build)


# auto-governor regime boundary (r13): projected candidate ROWS (sum
# over colliding (band, h) buckets of index-rows x probe-rows) above
# which the default lookup engages the volume governors.  30M mirrors
# the scale bench's verify budget; the measured decades sit a decade
# clear on each side (sf10: 2.3M pairs, fine ungoverned; sf100: 230M
# pairs, verify infeasible — SCALE_BENCH_r12).
_LOOKUP_AUTO_CAND_BUDGET = 30_000_000
# governor values auto applies: require 2-band evidence (prunes the
# single-band long tail that dominates candidate volume on
# dup-saturated corpora) and keep the 100 best matches per probe doc
# (bounds output regardless of corpus dup density — generous next to
# the handful of matches dedup decisions consume)
_LOOKUP_AUTO_MIN_BANDS = 2
_LOOKUP_AUTO_TOP_K = 100


def _index_footer_rows(path: str) -> int | None:
    """Total index bucket rows from parquet FOOTERS (no Spark job);
    None when the path isn't a local directory or pyarrow is missing
    — callers then fall back to the exact projection scan.  Accurate
    through appends (each append adds plain files)."""
    parts = _partition_footer_rows(path, "band")
    if not parts or not any(parts):
        # an existing directory with NO band-partitioned files is a
        # layout this helper does not understand, not an empty
        # index — returning 0 would make the fast-path bound
        # 0 <= budget and silently skip the governor (r13 advice);
        # None sends callers to the exact index-scan projection
        return None
    return sum(map(sum, parts))


def _projected_candidate_rows(idx: DataFrame, pb: DataFrame,
                              index_path: str | None = None,
                              budget: int | None = None) -> int:
    """Exact candidate-row count of the bucket join ``idx >< pb`` —
    sum over colliding (band, h) buckets of n_index * n_probe — via
    one 2-column pass over the index: the probe's per-bucket counts
    join map-side (AQE sees the tiny aggregate output and broadcasts
    it; no hint, so an enormous probe degrades to a shuffle instead
    of an OOM-ing forced broadcast) and the sum folds to one row.
    The index is never shuffled on the broadcast path.

    Fast path (r13): when ``index_path``/``budget`` are given and the
    UPPER BOUND max_probe_bucket_rows x total_index_rows (probe-only
    aggregate + parquet-footer row count — NO index scan) already sits
    at or under the budget, the exact sum must too (candidate rows =
    sum n_idx(b,h)*n_probe(b,h) <= max_pn * sum n_idx(b,h)), so the
    bound is returned instead.  Routing decisions are IDENTICAL to
    the exact path — only the over-budget (or footer-less) case pays
    the index scan — and the common small-workload lookup drops the
    projection tax to one tiny probe aggregate."""
    pcnt = (pb.groupBy("band", "h")
            .agg(F.count(F.lit(1)).alias("__pn")))
    if index_path is not None and budget is not None:
        n_idx = _index_footer_rows(index_path)
        if n_idx is not None:
            mx = pcnt.agg(F.max("__pn").alias("m")).first()["m"]
            bound = int(mx or 0) * n_idx
            if bound <= budget:
                return bound
    row = (idx.join(pcnt, on=["band", "h"], how="inner")
           .agg(F.sum("__pn").alias("__cand")).first())
    return int(row["__cand"] or 0)


def minhash_index_lookup(spark, path: str, probe: DataFrame, *,
                         threshold: float = 0.0,
                         probe_strategy: str = "auto",
                         min_bands: int = 1,
                         top_k: int | None = None,
                         governors: str = "auto",
                         auto_budget: int | None = None) -> DataFrame:
    """Near-dup pairs between ``probe`` docs and the indexed corpus:
    (probe_id, index_id, est_jaccard), est_jaccard = fraction of
    agreeing signature positions, filtered to ``>= threshold`` (0.0
    returns every LSH candidate).  A doc id present on both sides pairs
    with itself at estimate 1.0 — filter ``probe_id != index_id`` when
    probing with already-ingested rows.

    ``probe_strategy``: ``"broadcast"`` ships the probe's bucket rows
    to every executor so the index side is scanned in place and NEVER
    shuffled (the intended daily-increment shape); ``"shuffle"`` is a
    plain equi-join for probe sets too big to broadcast; ``"auto"``
    picks by the probe plan's size estimate (stats-unknown plans —
    streams, RDD-backed frames — resolve to ``"shuffle"``: pass
    ``"broadcast"`` explicitly when you know the probe is small).

    Candidate-volume governors (r10, both DEFAULT OFF — the defaults
    reproduce the ungoverned result exactly):

    - ``min_bands``: require a candidate pair to collide in at least
      this many DISTINCT bands before estimator verification.  At
      ``1`` (default) every LSH candidate is verified; at ``b > 1``
      the result is the subset of the ungoverned result whose pairs
      have >= b matching bands — pairs whose ONLY evidence is a single
      band (the long tail that dominates verify cost on dup-saturated
      corpora) are pruned before the estimator runs.  Raising it
      raises the effective jaccard floor the index can see (standard
      S-curve shift), so keep ``threshold`` authoritative and use
      ``min_bands`` as a volume bound.
    - ``top_k``: keep only the ``top_k`` best-estimate index matches
      per probe doc (ties broken on ``index_id`` — deterministic).
      Bounds OUTPUT volume per probe regardless of corpus dup density.

    Governed results are always a subset of the ungoverned result with
    identical ``est_jaccard`` values (pinned in
    ``tests/test_r10_fixes.py``).

    ``governors="auto"`` (default, r13): when BOTH governors are at
    their defaults (``min_bands=1``, ``top_k=None``), the lookup
    first projects the bucket join's exact candidate-row count (one
    2-column index pass, probe counts broadcast — see
    :func:`_projected_candidate_rows`) and, if it exceeds
    ``_LOOKUP_AUTO_CAND_BUDGET`` (30M rows), engages
    ``min_bands=2, top_k=100`` with a ``UserWarning`` naming the
    projection and the values applied.  Rationale: at sf100 of the
    scale corpus the ungoverned lane emits 230M pairs — no downstream
    verify can consume that, so the un-governed default was a lane
    that cannot finish exactly where the index is most needed
    (SCALE_BENCH_r12).  Under the budget the result is BIT-IDENTICAL
    to ``governors="off"`` — the probe job is the only difference.
    Explicitly set governors (``min_bands > 1`` or ``top_k``) are
    always honored as given; ``governors="off"`` restores the r12
    behavior including skipping the projection job.  ``auto_budget``
    overrides the 30M-row default budget (clusters size their verify
    stage differently); it only matters while auto is deciding.

    While auto decides, the probe's bucket relation is persisted so
    its shingle+minhash pass is computed once (projection + lookup).
    It backs the lazily returned frame: inside
    :func:`pydiverse_transform_spark.scope` it is released when the
    scope exits; outside one, the next default lookup on a different
    probe releases it (a repeated identical lookup reuses it).
    Service-style callers consume each result inside a scope::

        with pdt.scope():
            pairs = minhash_index_lookup(spark, path, probe,
                                         threshold=0.7)
            pairs.write.parquet(out)"""
    if governors not in ("auto", "off"):
        raise ValueError(
            f"governors must be 'auto' or 'off', got {governors!r}")
    budget = (_LOOKUP_AUTO_CAND_BUDGET if auto_budget is None
              else auto_budget)
    meta = read_minhash_meta(spark, path)
    strategy = _resolve_probe_strategy(probe_strategy, probe)
    pb = _probe_buckets(meta, probe)
    if governors == "auto" and min_bands == 1 and top_k is None:
        # persist so the probe's shingle+minhash pass isn't paid twice
        # (once for the projection count, once for the lookup)
        pb = hold(pb, "minhash_index_lookup")
        from ..sources import spark_read_parquet as _srp

        idx = _srp(spark, path)
        projected = _projected_candidate_rows(idx, pb,
                                              index_path=path,
                                              budget=budget)
        if projected > budget:
            import warnings

            min_bands = _LOOKUP_AUTO_MIN_BANDS
            top_k = _LOOKUP_AUTO_TOP_K
            warnings.warn(
                f"minhash_index_lookup: the bucket join projects "
                f"{projected} candidate rows (> "
                f"{budget} budget) — engaging "
                f"candidate-volume governors min_bands="
                f"{min_bands}, top_k={top_k}. The result is the "
                f"best-evidence subset of the ungoverned pairs; pass "
                f"governors='off' (and budget the verify yourself) "
                f"or set min_bands/top_k explicitly to choose.",
                UserWarning, stacklevel=2)
    return _lookup_from_buckets(spark, path, meta, pb,
                                threshold, strategy,
                                min_bands=min_bands, top_k=top_k)


def neardup_filter_new(spark, path: str, new_docs: DataFrame, *,
                       threshold: float = 0.7, admit: bool = False,
                       probe_strategy: str = "auto") -> DataFrame:
    """The daily-ingest primitive: drop arriving docs whose estimated
    Jaccard against ANY indexed doc reaches ``threshold``; return the
    survivors (all input columns).  ``admit=True`` additionally appends
    the SURVIVORS' bucket rows to the index (dedup-then-admit), so the
    next increment also dedupes against today's.

    Scale shape (r14): the lookup runs the EXISTS-semantics lane
    (:func:`_probe_hits_exists`) — shuffle volume is bounded by the
    INCREMENT's id count regardless of how duplicate-saturated the
    index is, so the backfill shape (increment comparable in size to
    the index) holds at any corpus scale with no candidate-volume
    governor and no recall change.  Result is identical to deriving
    the dropped ids from ``minhash_index_lookup(governors="off")``.

    admit snapshots the survivor ID SET (one column, eager
    localCheckpoint) BEFORE appending and rebuilds the returned frame
    from it: the anti-join's own plan reads the index path, and Spark's
    append refreshes that path's cache entries — a frame still
    referencing the index would silently re-evaluate against the
    just-admitted rows and come back EMPTY (every survivor is now its
    own index near-dup).  The snapshot is ids only, so the pinned
    memory is negligible at any corpus scale.

    The increment is tokenized+minhashed ONCE: admit appends the
    already-computed bucket rows (persisted for the call's two
    actions), not a re-hash of the survivor documents — bucket rows
    reference no index path, so the refreshByPath hazard above does not
    apply to them.

    Edge-input contract (r9, tested in ``tests/test_r9_fixes.py``):
    null / empty / whitespace-only documents carry the sentinel
    empty-shingle signature — BATCH PARITY with ``neardup_dedup``,
    where all empties estimate jaccard 1.0 against each other and
    collapse onto the first.  Incrementally that means the first
    indexed empty doc drops every later empty arrival; the increment
    that introduces them keeps them all (the filter compares against
    the INDEX only, not within the increment)."""
    meta = read_minhash_meta(spark, path)
    id_col = meta["id_col"]
    strategy = _resolve_probe_strategy(probe_strategy, new_docs)
    pb = _probe_buckets(meta, new_docs)
    with owned() as own:
        if admit:
            pb = own.persist(pb)
        # exists-semantics lane (r14): the filter only needs "this
        # arrival HAS an indexed near-dup", never the pairs — the
        # distinct(probe_id) partial-aggregates map-side, so a
        # BACKFILL-sized increment against a dup-saturated index
        # shuffles |increment| ids instead of the pair lane's 230M
        # candidate pairs (see _probe_hits_exists; recall-identical)
        hits = _probe_hits_exists(
            spark, path, meta, pb, threshold, strategy,
        ).select(F.col("probe_id").alias(id_col))
        out = new_docs.join(hits, on=id_col, how="left_anti")
        if admit:
            ids = out.select(id_col).localCheckpoint()
            out = new_docs.join(ids, on=id_col, how="left_semi")
            _append_probe_buckets(
                path, meta,
                pb.join(ids.withColumnRenamed(id_col, "probe_id"),
                        on="probe_id", how="left_semi"))
    return out
