"""Deduplication operators (SURVEY §2 L1/L2).

Four tiers, all pure DataFrame expressions (no Python row boundary):

  exact         — hash groupBy on content (L1)
  n-gram Jaccard— exact set-overlap join on word n-grams; the
                  verification kernel for the approximate tiers
  MinHash + LSH — shingle→minhash→band→bucket-join; candidate pairs
                  only where a band collides, so the pair space is
                  ~|collisions|, not O(n²) — the 100 TB path
  SimHash       — 64-bit near-dup fingerprint; Hamming-near buckets

Determinism: hashes are Spark's xxhash64 (seeded), so results are
stable across runs/partitions; band hashing never depends on row order.
"""

from __future__ import annotations

try:
    # pandas_udf return-type hints are resolved as STRINGS in this
    # module's globals (PEP 563 via `from __future__ import
    # annotations`) — `pd` must be importable here. ALL scientific
    # deps are import-guarded (numpy too, r11 review — an unguarded
    # numpy import broke module import on a numpy-less install even
    # though the pure-JVM kernels need neither) so every JVM code path
    # keeps working; the Arrow kernels check and raise with guidance.
    import numpy as np
    import pandas as pd
    import pyarrow as pa
except ImportError:  # pragma: no cover
    np = None  # type: ignore[assignment]
    pd = None  # type: ignore[assignment]
    pa = None  # type: ignore[assignment]
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """L1: one row per distinct content, keeping the lowest id (a
    deterministic survivor, unlike dropDuplicates' arbitrary pick).
    Map-side partial agg → shuffle is |distinct| not |rows|. The
    shuffle rows still carry the CONTENT (this form returns it); when
    only survivor ids are needed, :func:`exact_dedup_keepers` shuffles
    8-byte hashes instead."""
    return df.groupBy(content_col).agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


def exact_dedup_keepers(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """L1 at corpus scale: the surviving (min) id per distinct content,
    keyed by xxhash64 of the content — the dedup shuffle then carries
    (long, id) pairs, never the documents themselves, so shuffle bytes
    are |distinct|·16 B instead of |distinct|·avg-doc-size. Two
    distinct documents colliding on 64 bits would alias (~|distinct|²
    / 2⁶⁵ — vanishing against the data-parallel error budget, same
    trade the shingle kernels already make); use :func:`exact_dedup`
    when the grouped content must surface exactly."""
    return df.groupBy(F.xxhash64(content_col).alias("content_hash")).agg(
        F.min(id_col).alias("keeper_id")
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (JVM higher-order fns).
    Guarded: F.sequence(1, 0) would generate a *descending* [1, 0], so
    texts shorter than n tokens yield an empty shingle set."""
    toks = F.split(text, " ")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def word_ngram_hashes(tok_hashes: Column, n: int = 3) -> Column:
    """64-bit hash per word n-gram WITHOUT building shingle strings:
    ``tok_hashes`` is an array<long> of per-token xxhash64 values (hash
    each token once); each window's hash is xxhash64 over its n token
    hashes. Equivalent to hashing the concatenated shingle up to 64-bit
    collisions, but skips the concat_ws string construction and slice
    copies that dominate shingle CPU — only fixed-width longs are ever
    built. Same short-text guard as :func:`word_ngrams`: fewer than n
    tokens → empty array."""
    idx = F.when(
        F.size(tok_hashes) >= n, F.sequence(F.lit(0), F.size(tok_hashes) - n)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        idx, lambda i: F.xxhash64(*[F.get(tok_hashes, i + j) for j in range(n)])
    )


def token_hashes(text: Column) -> Column:
    """xxhash64 of each whitespace token — array<long>."""
    return F.transform(F.split(text, " "), lambda t: F.xxhash64(t))


def cooccurrence_pairs(
    tokens: DataFrame,
    id_col: str,
    token_col: str,
    size_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """(id, token) rows → (doc_a, doc_b, inter) co-occurrence counts
    WITHOUT a self-join: group the (sorted) id list per token, drop
    single-doc tokens (they can't intersect — and in natural text most
    tokens/shingles are unique to one doc), and emit the C(k,2) ordered
    pairs per token with row-local array combinatorics. Two shuffles
    total (by token, by pair) versus the self-join formulation's three
    plus a join; identical output.

    ``size_col`` names a per-row set-size column to carry THROUGH the
    pair kernel: the output then has (doc_a, doc_b, na, nb, inter) and
    similarity ratios (Jaccard, overlap coefficient) are computable
    without joining doc sizes back onto the pairs — two extra ints per
    shuffle row instead of two joins and a persisted token relation.

    Skew note: a stop-token shared by k docs emits k²/2 pairs either
    way — that blowup is inherent to exact intersection counting, which
    is why these exact kernels verify CANDIDATE sets at scale (MinHash
    bands / LSH buckets generate the candidates). ``max_df`` bounds it
    when the caller can justify dropping hub tokens (winnowing's
    boilerplate rule): groups larger than ``max_df`` ids emit no
    pairs."""
    if size_col is None:
        ds = F.array_sort(F.collect_list(id_col))
        pair = lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))  # noqa: E731
        group_cols = ["p.doc_a", "p.doc_b"]
    else:
        # array_sort on structs orders by fields left-to-right → by id
        ds = F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(size_col).alias("s")))
        )
        pair = lambda x, y: F.struct(  # noqa: E731
            x["i"].alias("doc_a"),
            y["i"].alias("doc_b"),
            x["s"].alias("na"),
            y["s"].alias("nb"),
        )
        group_cols = ["p.doc_a", "p.doc_b", "p.na", "p.nb"]
    keep = F.size("ds") > 1
    if max_df is not None:
        keep = keep & (F.size("ds") <= max_df)
    return (
        tokens.groupBy(token_col)
        .agg(ds.alias("ds"))
        .filter(keep)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                            lambda y: pair(x, y),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    method: str = "auto",
    parts: int = 8,
    stream_pairs_min: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: distinct shingles per doc,
    |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold, with A/B the xxhash64'd
    shingle sets. Counting hashed shingles equals counting shingles up
    to 64-bit collisions (~k²/2⁶⁵ per pair — vanishing against the
    data-parallel error budget).

    Two equivalent executions (``method``):

    ``"pigeonhole"`` (default when numpy+pyarrow are available and the
    id column is integral) — a candidate/verify split in the
    partition-signature family of Vernica et al. (SIGMOD 2010) /
    MASSJOIN (Deng et al., ICDE 2014). Shingles are hash-partitioned
    into ``parts`` disjoint parts; for a qualifying pair
    jaccard ≥ t ⇒ |A∩B| ≥ t·(|A|+|B|)/(1+t), so by pigeonhole SOME
    part holds ≥ ⌈t·(na+nb)/((1+t)·parts)⌉ of its shared shingles —
    every true pair is a phase-1 candidate by construction, never a
    heuristic. Phase 1 is an Arrow kernel per part (numpy lexsort /
    ragged pair enumeration / radix-sort pair counting — no Catalyst
    struct rows), phase 2 re-verifies candidates exactly with a JVM
    ``array_intersect`` over the full shingle sets — pruned by a
    broadcast semi-join to the docs that appear in a candidate — so
    the emitted (inter, jaccard) values are identical to the
    co-occurrence form.
    Why it exists: on corpora whose shingle vocabulary saturates (every
    shingle shared by many docs) the co-occurrence kernel materializes
    and hash-aggregates the full quadratic pair space as Spark rows —
    measured 126 M pair rows / 114 M distinct pairs for 52 k docs —
    while the local-count bound prunes that to ~230 k candidates at
    parts=8 and the remaining work runs at numpy speed.

    ``"cooccur"`` — the original pure-JVM formulation (groupBy shingle
    → row-local C(k,2) pair explode → pair-count aggregate). No Python
    boundary; the fallback for numpy/pyarrow-less installs and
    non-integral ids, and the differential twin the pigeonhole path is
    pinned against.

    Choosing ``parts``: the prune threshold ⌈t·(na+nb)/((1+t)·parts)⌉
    weakens as parts grows (at τ=1 candidates degenerate to all
    pairs sharing any shingle — the co-occurrence pair space, still
    correct); per-part kernel work is Σk²/(2·parts) pair enumerations,
    so a deployment raises ``parts`` with corpus size and accepts the
    τ decay, or keeps τ ≥ 2-3 and lets each part run longer. The
    default 8 keeps τ=3 for ~100-shingle documents at t=0.3.

    ``stream_pairs_min`` (r16): part-local pair count past which the
    kernel switches from the full-buffer radix count to the streaming
    two-pass count whose memory is CHUNK-bounded regardless of part
    size (default :data:`PIGEONHOLE_STREAM_PAIRS_MIN`; both arms emit
    bit-identical candidates — pinned in tests).

    Scale note: exact pairwise Jaccard is only run on candidate sets
    (or bounded subsets); at 100 TB the candidate generation is
    :func:`minhash_near_dup_pairs` and this is the verify kernel."""
    if method not in ("auto", "pigeonhole", "cooccur"):
        raise ValueError(f"unknown method: {method!r}")
    id_dtype = dict(df.dtypes)[id_col]
    integral = id_dtype in ("bigint", "int", "smallint", "tinyint")
    if method == "auto":
        method = "pigeonhole" if (np is not None and pa is not None and integral) else "cooccur"
    if method == "pigeonhole":
        if np is None or pa is None:
            raise RuntimeError(
                "ngram_jaccard_pairs(method='pigeonhole') needs numpy and "
                "pyarrow (Arrow batch transfer); install them or pass "
                "method='cooccur' for the pure-JVM kernel"
            )
        if not integral:
            raise ValueError(
                "method='pigeonhole' packs ids into uint32 part-local "
                f"codes and needs an integral id column, got {id_dtype}; "
                "use method='cooccur'"
            )
        return _ngram_jaccard_pigeonhole(
            df, id_col, text_col, n, threshold, parts, id_dtype,
            stream_pairs_min=stream_pairs_min,
        )
    hs = shingle_hashes(F.col(text_col), n)
    sh = df.select(F.col(id_col).alias("doc"), hs.alias("hs")).select(
        "doc", F.size("hs").alias("n_sh"), F.explode("hs").alias("shingle")
    )
    pairs = cooccurrence_pairs(sh, "doc", "shingle", size_col="n_sh")
    return (
        pairs.withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


#: above this many PART-LOCAL pairs the pigeonhole kernel switches from
#: the full-buffer radix count (fastest warm — one in-place sort) to
#: the streaming two-pass count whose working set is CHUNK-bounded
#: regardless of part size (r15 VERDICT #3): at 64 M pairs the full
#: buffer + radix workspace is ~1 GB of per-worker fresh-touch, the
#: regime where allocation, not arithmetic, dominates on slow-fault
#: hosts — and past the threshold it keeps growing as Σk²/(2·parts).
PIGEONHOLE_STREAM_PAIRS_MIN = 64_000_000

#: above this many candidate pairs the pigeonhole verify joins switch
#: from F.broadcast to plain (shuffle) joins: the broadcast relations
#: carry the touched docs' full shingle arrays — at ~1 KB+/doc, 100k
#: candidates (≤200k docs) is already ~hundreds of MB per executor
#: copy, and candidate count grows with the corpus's duplicate mass
#: (r15 VERDICT #4). Module-level so tests can force the shuffle arm.
PIGEONHOLE_VERIFY_BROADCAST_MAX = 100_000


def _ngram_jaccard_pigeonhole(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    parts: int,
    id_dtype: str,
    stream_pairs_min: int | None = None,
) -> DataFrame:
    """Pigeonhole candidate generation + exact JVM verify (see
    :func:`ngram_jaccard_pairs`). The kernel is fully self-contained
    (numpy/pyarrow only — cloudpickle ships the nested function by
    value, so no package zip is needed on the workers) and does no
    BLAS, so the blasctl thread clamp does not apply.

    The kernel is Arrow-native (``applyInArrow``): each part arrives
    as a pyarrow Table and the three input columns concatenate
    straight into numpy arrays — ONE copy per column. The previous
    pandas form paid the block-manager consolidation (all int64
    columns re-copied into a 2D block) plus a per-column slice copy in
    ``.to_numpy()`` on top of the same Arrow buffers — on a part of S
    input bytes that was ~3S freshly-touched bytes per task against
    Arrow's ~2S, and on hosts that demand-fault new pages slowly (the
    ~100 MB/s first-touch regime this kernel's other mitigations
    target) the saved copy is saved fault time on every cold worker.

    Kernel memory is bounded: pair enumeration runs in ≤4 M-pair
    chunks (~200 MB transient), and the accumulated per-part packed
    array is Σk²/(2·parts) × 8 B — the quantity ``parts`` exists to
    bound. Part-local doc codes are uint32; >2³² distinct docs in ONE
    part is refused loudly (raise, never alias) — a deployment at that
    size raises ``parts`` long before the bound binds."""
    if parts < 1:
        raise ValueError(f"parts must be ≥ 1: {parts}")
    t = float(threshold)
    n_parts = int(parts)
    # captured at plan-build time so tests can pin the streaming arm
    s_min = int(
        PIGEONHOLE_STREAM_PAIRS_MIN if stream_pairs_min is None
        else stream_pairs_min
    )

    def _kernel(tbl: "pa.Table") -> "pa.Table":
        # Keep the kernel's large transient buffers in the malloc arena
        # instead of per-allocation mmap/munmap: glibc mmaps blocks over
        # ~32 MB and returns them to the OS on free, so a REUSED python
        # worker re-faults every page of the ~200 MB working set on
        # every task — on hypervisor-backed hosts that demand-fault new
        # pages slowly (measured ~100 MB/s first-touch vs arena reuse
        # at memory speed) this tax, not the arithmetic, dominated the
        # task. Raising M_MMAP_THRESHOLD (-3) keeps big buffers in the
        # arena and M_TRIM_THRESHOLD (-1) stops free() trimming them;
        # the retained arena is bounded by the kernel's own documented
        # working-set bound. Best-effort: non-glibc platforms skip it.
        try:
            import ctypes

            _libc = ctypes.CDLL("libc.so.6")
            _libc.mallopt(-3, 1 << 29)
            _libc.mallopt(-1, 1 << 29)
        except Exception:
            pass
        import pyarrow as _pa

        empty = _pa.table(
            {
                "doc_a": _pa.array([], type=_pa.int64()),
                "doc_b": _pa.array([], type=_pa.int64()),
            }
        )
        if tbl.num_rows == 0:
            return empty
        # chunked-column → numpy concatenation: one copy per column,
        # straight off the Arrow IPC buffers (columns are non-null by
        # construction: cast long ids, F.size counts, exploded hashes)
        doc = tbl.column("doc").to_numpy(zero_copy_only=False)
        nsh = tbl.column("n_sh").to_numpy(zero_copy_only=False)  # int32
        sh = tbl.column("shingle").to_numpy(zero_copy_only=False)
        # part-local integer codes, ascending by id → code order = id
        # order, so (min code, max code) is (doc_a, doc_b) by value
        ids_u, first_idx, codes = np.unique(
            doc, return_index=True, return_inverse=True
        )
        if ids_u.size > 0xFFFFFFFF:  # pragma: no cover - scale guard
            raise ValueError(
                f"{ids_u.size} distinct docs in one pigeonhole part "
                "exceeds the uint32 code space; raise parts="
            )
        n_u = nsh[first_idx]
        # sort by (shingle, code) so codes ASCEND within each shingle
        # group: the earlier occurrence of a within-group pair is then
        # always the smaller code and pairs pack as a<<32|b with no
        # per-pair min/max
        order = np.lexsort((codes, sh))
        g = sh[order]
        c = codes[order].astype(np.uint64)
        # shingle-group boundaries and per-element local position
        newgrp = np.empty(g.size, dtype=bool)
        newgrp[0] = True
        np.not_equal(g[1:], g[:-1], out=newgrp[1:])
        starts = np.flatnonzero(newgrp)
        k = np.diff(np.append(starts, g.size))
        pos = np.arange(g.size, dtype=np.int64) - np.repeat(starts, k)
        cum = np.cumsum(pos)
        total = int(cum[-1]) if cum.size else 0
        if total == 0:
            return empty
        # enumerate all within-group (earlier, element) pairs in
        # ≤CHUNK-pair slices of elements; pack as (min<<W | max).
        CHUNK = 4_000_000
        bounds = np.searchsorted(cum, np.arange(CHUNK, total + CHUNK, CHUNK))
        # Worker-local scratch, cached across tasks (python workers run
        # ONE task at a time; builtins is the namespace that survives
        # task boundaries in a reused worker for a cloudpickle-self-
        # contained kernel) — without the cache each task grows the
        # arena afresh and re-pays the first-touch fault tax.
        import builtins

        def _scratch(n_u64):
            b = getattr(builtins, "_dataworks_pigeonhole_scratch", None)
            if b is None or b.size < n_u64:
                b = np.empty(n_u64 + (n_u64 >> 3), dtype=np.uint64)
                builtins._dataworks_pigeonhole_scratch = b
            return b

        # element ranges whose pair counts fit roughly one CHUNK slice
        # (a slice may overshoot CHUNK by at most the boundary
        # element's group position: the +1 progress rule never splits
        # one element's pairs)
        ranges = []
        lo_el = 0
        for hi_el in bounds + 1:
            hi_el = min(int(hi_el), g.size)
            if hi_el <= lo_el:
                continue
            ranges.append((lo_el, hi_el))
            lo_el = hi_el

        def _fill(lo, hi, out, cc, w_bits):
            """Pack the within-group (earlier, element) pairs of
            elements [lo, hi) into ``out`` (or the worker scratch when
            None) and return the filled view (None when the slice holds
            no pairs). Codes ascend within a group (lexsort above), so
            the earlier occurrence IS the smaller code and pairs pack
            as a<<W|b with no per-pair min/max."""
            cnt = pos[lo:hi]
            T = int(cnt.sum())
            if not T:
                return None
            if out is None:
                out = _scratch(T).view(cc.dtype)
            o = out[:T]
            run0 = np.cumsum(cnt) - cnt
            offs = np.arange(T, dtype=np.int64) - np.repeat(run0, cnt)
            first = np.repeat(np.arange(lo, hi, dtype=np.int64) - cnt, cnt) + offs
            o[:] = (cc[first] << w_bits) | np.repeat(cc[lo:hi], cnt)
            return o

        # per-pair pigeonhole bound: a true pair has SOME part-local
        # count ≥ ⌈t(na+nb)/((1+t)·parts)⌉; ε keeps borderline floats
        # on the sound (kept) side. The bound depends only on the
        # integer ssum=na+nb, so the EXACT same float expression is
        # evaluated once per possible ssum (table) instead of once per
        # pair.
        smax = 2 * int(n_u.max())
        need_tab = np.maximum(
            np.ceil(
                t * np.arange(smax + 1, dtype=np.float64) / ((1.0 + t) * n_parts)
                - 1e-9
            ),
            1.0,
        )
        n32 = np.asarray(n_u, dtype=np.int32)  # already int32 off Arrow
        s1 = int(np.searchsorted(need_tab, 1.5) - 1)  # largest ssum with need==1
        tiny = n32 <= s1
        if total < s_min:
            # FULL-BUFFER path (the r15 shape, the fastest warm form):
            # materialize the part's pair space once, ONE in-place
            # radix sort (numpy kind="stable" on ints — np.unique's
            # comparison sort was the measured 9.5 s vs 0.8 s hot spot
            # at sf1.0), then a slice-walking scan with small reused
            # temporaries. r16: when the part's code space fits 16
            # bits (≤65536 distinct docs — every bench fixture and any
            # sanely-parted corpus shard), pairs pack as uint32 —
            # HALVING the buffer and the radix workspace, the two
            # dominant fresh-touch surfaces of a cold worker (guide
            # §5; this host demand-faults new pages at ~10-100 MB/s).
            if ids_u.size <= 0x10000:
                cc = c.astype(np.uint32)
                w_bits = np.uint32(16)
                mask = np.uint32(0xFFFF)
                packed = _scratch((total + 1) // 2 + 1).view(np.uint32)[:total]
            else:
                cc = c
                w_bits = np.uint64(32)
                mask = np.uint64(0xFFFFFFFF)
                packed = _scratch(total)[:total]
            w = 0
            for lo_el, hi_el in ranges:
                seg = _fill(lo_el, hi_el, packed[w:], cc, w_bits)
                if seg is not None:
                    w += seg.size
            packed.sort(kind="stable")
            n_pk = packed.size
            kept_vals = []
            # duplicate-adjacent positions (i with packed[i]==
            # packed[i-1]), collected chunkwise — ~1% of n_pk
            dup_chunks = []
            for sl in range(1, n_pk, CHUNK):
                sh_hi = min(sl + CHUNK, n_pk)
                dp = np.flatnonzero(
                    packed[sl:sh_hi] == packed[sl - 1 : sh_hi - 1]
                )
                if dp.size:
                    dup_chunks.append(dp + sl)
            if dup_chunks:
                dup_pos = np.concatenate(dup_chunks)
                del dup_chunks
                # consecutive dup positions belong to one run: a run
                # of multiplicity m contributes m-1 consecutive indices
                brk = np.flatnonzero(np.diff(dup_pos) > 1)
                rs = np.concatenate(([0], brk + 1))
                re_ = np.concatenate((brk, [dup_pos.size - 1]))
                run_start = dup_pos[rs] - 1
                run_cnt = dup_pos[re_] - run_start + 1
                vals = packed[run_start]
                a_m = (vals >> w_bits).astype(np.int64)
                b_m = (vals & mask).astype(np.int64)
                ssum = n32[a_m].astype(np.int64) + n32[b_m]
                kept_vals.append(vals[run_cnt >= need_tab[ssum]])
            # singleton pairs: positions whose value differs from BOTH
            # neighbours; keep iff need(ssum) == 1, prefiltered by the
            # tiny-doc test so the exact gather touches few rows
            for sl in range(0, n_pk, CHUNK):
                sh_hi = min(sl + CHUNK, n_pk)
                seg = packed[sl:sh_hi]
                m = seg.size
                left = np.empty(m, dtype=bool)
                left[0] = sl == 0 or packed[sl] != packed[sl - 1]
                np.not_equal(seg[1:], seg[:-1], out=left[1:])
                right = np.empty(m, dtype=bool)
                right[-1] = sh_hi == n_pk or packed[sh_hi - 1] != packed[sh_hi]
                np.not_equal(seg[:-1], seg[1:], out=right[:-1])
                left &= right  # singleton mask, reusing the buffer
                a_s = (seg >> w_bits).astype(np.int64)
                left &= tiny[a_s]
                b_s = (seg & mask).astype(np.int64)
                left &= tiny[b_s]
                idx = np.flatnonzero(left)
                if idx.size:
                    ssum = n32[a_s[idx]].astype(np.int64) + n32[b_s[idx]]
                    kept_vals.append(seg[idx[need_tab[ssum] <= 1.0]])
            if kept_vals:
                kept = np.concatenate(kept_vals)
            else:
                kept = np.empty(0, dtype=cc.dtype)
        else:
            # STREAMING path (r16, r15 VERDICT #3): past ``s_min``
            # pairs the full buffer + radix workspace would be GBs of
            # per-worker fresh-touch (it grows as Σk²/(2·parts)) — here
            # the pair space is never materialized. Pass A enumerates
            # ≤CHUNK slices into the reused scratch, sorts each slice
            # in place, collects intra-slice repeats by adjacency,
            # emits tiny-tiny need==1 values exactly, and tracks
            # cross-slice repeats with a worker-cached BITMAP
            # (test-then-set; a false positive only adds an
            # exactly-counted candidate, never a wrong pair). Pass B
            # re-enumerates and counts ONLY the candidates. Kept set is
            # bit-identical to the full-buffer scan: multiplicity-≥2
            # values are caught by adjacency (same slice) or the
            # bitmap (a later slice sees the bit set); need==1
            # singletons force both docs tiny. Measured 2-2.5× slower
            # warm than the full buffer at the sf1.0 proxy — which is
            # why it is the past-s_min guard, not the default.
            w_bits = np.uint64(32)
            mask = np.uint64(0xFFFFFFFF)
            dup_vals: list = []
            tiny_vals: list = []
            nbits = 1 << max(23, min(28, (int(total) * 8 - 1).bit_length()))
            words = nbits >> 6
            mix = np.uint64(0x9E3779B97F4A7C15)
            shift = np.uint64(64 - (nbits.bit_length() - 1))
            bm = getattr(builtins, "_dataworks_pigeonhole_bitmap", None)
            if bm is None or bm.size < words:
                bm = np.zeros(words, dtype=np.uint64)
                builtins._dataworks_pigeonhole_bitmap = bm
            else:
                bm[:words].fill(0)
            for lo_el, hi_el in ranges:
                seg = _fill(lo_el, hi_el, None, c, w_bits)
                if seg is None:
                    continue
                seg.sort(kind="stable")
                rep = np.empty(seg.size, dtype=bool)
                rep[0] = False
                np.equal(seg[1:], seg[:-1], out=rep[1:])
                if rep.any():
                    dup_vals.append(np.unique(seg[rep]))
                np.logical_not(rep, out=rep)
                u = seg[rep]  # slice-unique values, sorted
                a_s = (u >> w_bits).astype(np.int64)
                b_s = (u & mask).astype(np.int64)
                tmask = tiny[a_s] & tiny[b_s]
                if tmask.any():
                    ssum = n32[a_s[tmask]].astype(np.int64) + n32[b_s[tmask]]
                    tv = u[tmask][need_tab[ssum] <= 1.0]
                    if tv.size:
                        tiny_vals.append(tv)
                idx = ((u * mix) >> shift).astype(np.int64)
                hit = (
                    bm[idx >> 6] >> (idx.astype(np.uint64) & np.uint64(63))
                ) & np.uint64(1)
                hv = u[hit.astype(bool)]
                if hv.size:
                    dup_vals.append(hv)
                # set the slice's bits: one vectorized OR per word
                idx.sort(kind="stable")
                wds = idx >> 6
                bits = np.uint64(1) << (idx.astype(np.uint64) & np.uint64(63))
                starts_w = np.flatnonzero(
                    np.concatenate(([True], wds[1:] != wds[:-1]))
                )
                bm[wds[starts_w]] |= np.bitwise_or.reduceat(bits, starts_w)
            kept_list = list(tiny_vals)
            if dup_vals:
                cand = np.unique(np.concatenate(dup_vals))
                counts = np.zeros(cand.size, dtype=np.int64)
                for lo_el, hi_el in ranges:
                    seg = _fill(lo_el, hi_el, None, c, w_bits)
                    if seg is None:
                        continue
                    seg.sort(kind="stable")  # monotone queries below
                    pidx = np.searchsorted(cand, seg)
                    np.clip(pidx, 0, cand.size - 1, out=pidx)
                    m = cand[pidx] == seg
                    if m.any():
                        np.add.at(counts, pidx[m], 1)
                a_m = (cand >> w_bits).astype(np.int64)
                b_m = (cand & mask).astype(np.int64)
                ssum = n32[a_m].astype(np.int64) + n32[b_m]
                kept_list.append(cand[counts >= need_tab[ssum]])
            if kept_list:
                kept = np.unique(np.concatenate(kept_list))
            else:
                kept = np.empty(0, dtype=np.uint64)
        a32 = (kept >> w_bits).astype(np.int64)
        b32 = (kept & mask).astype(np.int64)
        return _pa.table(
            {
                "doc_a": ids_u[a32],
                "doc_b": ids_u[b32],
            }
        )

    raw = df.select(F.col(id_col).cast("long").alias("doc"), F.col(text_col))
    # The shingle projection is CPU-dense but its input is bytes-small,
    # so the scan's split count — not the advisory size — decides its
    # parallelism (2 splits at the 52k-doc proxy left 30 of 32 cores
    # idle for the most expensive map in the query). Spread it only
    # when the scan underfills the machine: a corpus-scale deployment
    # already has more files than cores and must NOT shuffle raw text.
    # inputFiles() is a listing-only probe (~10 ms vs ~100 ms for a
    # physical-plan compile — this builder runs once per bench pass);
    # file count lower-bounds split count, so the repartition triggers
    # at least as often and still vanishes at scale.
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        underfilled = len(raw.inputFiles()) < par
    except Exception:  # pragma: no cover - non-file-backed inputs
        underfilled = True
    if underfilled:
        raw = raw.repartition(par)
    base = raw.select("doc", shingle_hashes(F.col(text_col), n).alias("hs"))
    sh = base.select(
        "doc", F.size("hs").alias("n_sh"), F.explode("hs").alias("shingle")
    ).withColumn(
        # int32 part key: the grouping column rides every exploded
        # shingle row through the part shuffle AND into the Arrow
        # batch the kernel receives — 4 bytes beats bigint's 8 on the
        # widest relation this query ships (parts is ≤ a few thousand
        # in any sane deployment; the cast is exact)
        "part",
        F.pmod(F.xxhash64("shingle"), F.lit(n_parts)).cast("int"),
    )
    # One-shot checkpoint on the (small, bounded) candidate relation:
    # it feeds BOTH the touched-id broadcast and the verify stream, and
    # shared subplans re-execute per side (the r13 self-join note) —
    # without it the exchange + kernel would run twice per execution.
    # Holding this checkpoint puts the query in bench._REBUILD_EACH_PASS.
    cand = (
        sh.groupBy("part")
        .applyInArrow(_kernel, "doc_a long, doc_b long")
        .dropDuplicates(["doc_a", "doc_b"])
        .localCheckpoint(eager=False)
    )
    # r16 (r15 VERDICT #4): the candidate count BOUNDS the verify-side
    # broadcasts. Candidates grow with the corpus's true duplicate
    # mass, and the broadcast relations below carry the touched docs'
    # FULL shingle arrays — a dup-heavy 100 TB corpus would push them
    # past the 8 GB broadcast ceiling (driver/executor OOM). Counting
    # the checkpoint here is the materialization the first action had
    # to pay anyway; past the threshold every verify join goes through
    # a plain shuffle join, bounded by the candidates either way.
    n_cand = cand.count()
    bcast = (
        F.broadcast if n_cand <= PIGEONHOLE_VERIFY_BROADCAST_MAX
        else (lambda rel: rel)
    )
    # Verify needs full shingle sets only for docs that APPEAR in a
    # candidate — semi-join-prune the corpus by the touched ids BEFORE
    # computing shingles (guide: pre-filter the big side when
    # selective). The unpruned form broadcast the WHOLE corpus's
    # shingle arrays twice, evaluating shingle_hashes over every doc
    # once per join side inside single-threaded broadcast builds.
    touched = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc")
    ).dropDuplicates()
    vbase = (
        df.select(F.col(id_col).cast("long").alias("doc"), F.col(text_col))
        .join(bcast(touched), "doc")
        .select("doc", shingle_hashes(F.col(text_col), n).alias("hs"))
    )
    left = vbase.select(F.col("doc").alias("doc_a"), F.col("hs").alias("hs_a"))
    right = vbase.select(F.col("doc").alias("doc_b"), F.col("hs").alias("hs_b"))
    out = (
        cand.join(bcast(left), "doc_a")
        .join(bcast(right), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("long").alias("inter"),
            F.size("hs_a").alias("na"),
            F.size("hs_b").alias("nb"),
        )
        .withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )
    if id_dtype != "bigint":
        out = out.withColumn("doc_a", F.col("doc_a").cast(id_dtype)).withColumn(
            "doc_b", F.col("doc_b").cast(id_dtype)
        )
    return out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    qgram_filter: bool = False,
    q: int = 3,
) -> DataFrame:
    """Approximate-string join: all ordered pairs within ``max_dist``
    Levenshtein edits — the fuzzy-match primitive for entity
    resolution / noisy-duplicate triage. Output (id_a, id_b, dist).

    Candidate generation is SOUND length-band blocking: bucket =
    ``len // (max_dist+1)``; since edit distance ≤ d forces length
    difference ≤ d < bucket width, a true pair's buckets differ by at
    most 1 — the left side expands to its bucket ± 1 (a 3× row
    expansion, not a self-join blowup) and equi-joins the right side's
    single bucket, so every true pair is generated EXACTLY once and
    completeness is a theorem, not a heuristic. Verification is the
    built-in ``levenshtein`` (JVM DP kernel). The length filter inside
    the bucket prunes the d<width remainder before the DP runs.

    ``qgram_filter=True`` adds the Gravano COUNT FILTER between
    blocking and verify, in its sound multiset form: one edit operation
    destroys at most q positional q-grams, so ed(a,b) ≤ d forces the
    MULTISET q-gram intersection ≥ max(|Gₐ|, |G_b|) − d·q (Gravano et
    al., VLDB 2001 — public construction). Multiset intersection is
    computed as a distinct-set intersection by occurrence-indexing:
    the j-th occurrence of a gram hashes to xxhash64(gram, j), so
    Σ_g min(cntₐ(g), cnt_b(g)) equals the number of matching
    (gram, occurrence) keys and the shared co-occurrence pair kernel
    applies unchanged. Occurrence indexes come from one row_number
    window over (doc, gram) — linear work, one extra exchange of longs,
    no O(len²) per-row arrays, so the prefilter stays viable for long
    strings. Pairs whose bound is vacuous (max gram count ≤ d·q —
    strings near or below q chars can share ZERO grams yet still be
    within d edits) BYPASS the filter via a left join + coalesce(0),
    so the prefilter is a pure pruning step: qgram_filter never changes
    the result, only the candidate count that reaches the DP verify."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be ≥ 0: {max_dist}")
    width = max_dist + 1
    bucket = F.floor(F.length(text_col) / width).cast("int")
    left = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("t_a"), bucket.alias("__b0")
    ).select(
        "id_a",
        "t_a",
        F.explode(
            F.array(F.col("__b0") - 1, F.col("__b0"), F.col("__b0") + 1)
        ).alias("__b"),
    )
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("t_b"), bucket.alias("__b")
    )
    cands = (
        left.join(right, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("t_a") - F.length("t_b")) <= max_dist
        )
    )
    if qgram_filter:
        from pyspark.sql import Window

        # NOTE the pair kernel below runs WITHOUT max_df, on purpose:
        # the Gravano bound compares the TRUE multiset intersection
        # against max(|Ga|,|Gb|) − d·q, and capping hub grams would
        # UNDERCOUNT ``inter`` and silently reject true matches —
        # exactness here beats the hub-token pruning the similarity
        # kernels use. The quadratic hub term is therefore intrinsic
        # to this prefilter: it is a net win when the gram
        # distribution is spread (names, titles — the entity-resolution
        # workload it exists for) and a net LOSS on prose-like corpora
        # with stop-gram hubs; leave qgram_filter=False there
        # (r9 review note).
        grams = df.select(
            F.col(id_col).alias("doc"),
            F.posexplode(shingle_char_hashes_all(F.col(text_col), q)).alias(
                "pos", "g"
            ),
        )
        occ = F.row_number().over(Window.partitionBy("doc", "g").orderBy("pos"))
        keyed = grams.select("doc", F.xxhash64("g", occ).alias("gram"))
        shared = cooccurrence_pairs(keyed, "doc", "gram").select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "inter"
        )
        n_grams = lambda t: F.greatest(  # noqa: E731 — multiset |G| = len−q+1
            F.length(t) - (q - 1), F.lit(0)
        )
        cands = (
            cands.join(shared, on=["id_a", "id_b"], how="left")
            .filter(
                F.greatest(n_grams(F.col("t_a")), n_grams(F.col("t_b")))
                - max_dist * q
                <= F.coalesce(F.col("inter"), F.lit(0))
            )
            .drop("inter")
        )
    return (
        cands.withColumn("dist", F.levenshtein("t_a", "t_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def shingle_char_hashes_all(text: Column, q: int = 3) -> Column:
    """xxhash64 of EVERY character q-gram occurrence, in positional
    order (array<long>, length len−q+1) — the multiset companion of
    :func:`shingle_char_hashes` for count filters whose bound needs
    occurrence multiplicity. Same short-string guard."""
    n = F.length(text) - q + 1
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.xxhash64(text.substr(i, F.lit(q)))
        ),
    ).otherwise(F.array().cast("array<long>"))


def shingle_char_hashes(text: Column, q: int = 3) -> Column:
    """xxhash64 of each distinct CHARACTER q-gram (array<long>) — the
    string-join analog of :func:`shingle_hashes`' word shingles."""
    return F.array_distinct(shingle_char_hashes_all(text, q))


def shingle_hashes(text: Column, shingle_n: int = 3) -> Column:
    """xxhash64 of each distinct word shingle — array<long>, built
    WITHOUT shingle strings (:func:`word_ngram_hashes`). The
    single-element outer transform is a let-binding: it evaluates the
    per-token hash array exactly once and exposes it as a lambda
    variable, so the n references per window read a bound array instead
    of re-deriving transform(split(text)) — higher-order lambda bodies
    get no common-subexpression elimination."""
    return F.flatten(
        F.transform(
            F.array(token_hashes(text)),
            lambda th: F.array_distinct(word_ngram_hashes(th, shingle_n)),
        )
    )


# -- Spark-exact XXH64 primitives in numpy (the Arrow MinHash kernel) --
# Spark's xxhash64(c1, c2, …) chains XXH64 over the column values with
# accumulating seed (seed 42): hash = XXH64_int(c1, 42); hash =
# XXH64_long(c2, hash). These are the 4-byte/8-byte specializations of
# the public XXH64 algorithm (Collet; Spark's
# sql/catalyst/expressions/XXH64.java) — reimplemented vectorized over
# uint64 numpy arrays so the Arrow kernel's signatures are BIT-IDENTICAL
# to the JVM expression form (equality is pinned in tests/test_llm.py).
if np is not None:
    _XXH_P1 = np.uint64(0x9E3779B185EBCA87)
    _XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    _XXH_P3 = np.uint64(0x165667B19E3779F9)
    _XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
    _XXH_P5 = np.uint64(0x27D4EB2F165667C5)


def _xxh_rotl(x, r: int):
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh_fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _XXH_P2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXH_P3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_long(vals_u64: np.ndarray, seed: np.uint64) -> np.ndarray:
    """Vectorized XXH64 of 8-byte longs (uint64 in/out, wrap-around
    arithmetic — numpy integer ops wrap mod 2⁶⁴ like Java longs)."""
    h = seed + _XXH_P5 + np.uint64(8)
    k1 = _xxh_rotl(vals_u64 * _XXH_P2, 31) * _XXH_P1
    h = h ^ k1
    h = _xxh_rotl(h, 27) * _XXH_P1 + _XXH_P4
    return _xxh_fmix(h)


def _xxh64_int(i: int, seed: int = 42) -> np.uint64:
    """Scalar XXH64 of a 4-byte int — the per-hash-function seed
    xxhash64(lit(i), …) folds in first."""
    with np.errstate(over="ignore"):
        h = np.uint64(seed) + _XXH_P5 + np.uint64(4)
        h = h ^ (np.uint64(np.uint32(i)) * _XXH_P1)
        h = _xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3
        return _xxh_fmix(h)


def _minhash_arrow(hashes: Column, n_hashes: int) -> Column:
    """Arrow-batched MinHash signature kernel — the large-corpus path
    behind :func:`minhash_from_hashes`' auto-split (same pattern as
    similarity.ivf_assign, r10 VERDICT #3): the JVM HOF form evaluates
    |shingles|×n_hashes INTERPRETED lambda steps per row (higher-order
    functions are CodegenFallback — BASELINE attributes q_dedup_sketch's
    dominant cost to exactly this), while this kernel computes the same
    minima as n_hashes vectorized numpy passes (XXH64 + segmented min)
    per Arrow batch.

    Memory per batch is O(total_shingles) — ONE flattened value array
    and one n_hashes-pass loop over it, never the |shingles|×n_hashes
    matrix. Signed-long minima (Spark's least() compares signed), the
    per-i seed chain, NULL input → NULL signature, and empty shingle
    arrays → all-NULL signatures all mirror the JVM form bit-for-bit
    (pinned cross-shape in tests). Input arrays must not contain NULL
    elements — true of every shingle producer in this module."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    # the UDF body calls this module's XXH64 helpers — cloudpickle
    # references module functions BY NAME, so executor workers must be
    # able to import dataworks_spark (they can't when the driver runs
    # from outside the repo, e.g. the driver-contract harness). Ship
    # the package once per context.
    active = SparkSession.getActiveSession()
    if active is not None:
        from dataworks_spark.session import ensure_package_shipped

        ensure_package_shipped(active)

    seeds = [_xxh64_int(i) for i in range(n_hashes)]

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        from dataworks_spark.functions.blasctl import (
            limit_blas_threads,
            retain_malloc_arena,
        )

        limit_blas_threads()
        retain_malloc_arena()
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hs), dtype=np.int64, count=n
        )
        nonempty = lens > 0
        total = int(lens.sum())
        out = np.empty(n, dtype=object)
        if total:
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hs if a is not None and len(a)]
            ).view(np.uint64)
            starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            mins = np.empty((len(starts), n_hashes), dtype=np.int64)
            with np.errstate(over="ignore"):
                for i, seed in enumerate(seeds):
                    v = _xxh64_long(flat, seed).view(np.int64)
                    mins[:, i] = np.minimum.reduceat(v, starts)
            rows = mins.tolist()
            for k, j in enumerate(np.flatnonzero(nonempty)):
                out[j] = rows[k]
        for j in np.flatnonzero(~nonempty):
            out[j] = None if hs.iloc[j] is None else [None] * n_hashes
        return pd.Series(list(out))

    return _sig(hashes)


def minhash_from_hashes(
    hashes: Column, n_hashes: int = 64, use_arrow: bool | None = None
) -> Column:
    """MinHash signature from a *materialized* shingle-hash column:
    sig[i] = min over shingles of xxhash64(i, h). ``hashes`` must be a
    plain column reference (not the shingle expression itself) or the
    per-element hash fan-out re-evaluates the shingle construction —
    measured 25× slower at sf0.1.

    TWO kernels (r10 VERDICT #3, the ivf_assign auto-split pattern):
    ``use_arrow=None`` (default) picks the Arrow-batched numpy kernel
    when pandas is importable — the signature fold is the sketch
    queries' dominant CPU and the JVM HOF form pays |shingles|×n_hashes
    interpreted lambda evaluations per row (CodegenFallback), where the
    Arrow kernel runs n_hashes vectorized XXH64+segmented-min passes
    per batch (measured ~3× on the signature stage at sf0.1). Pass
    ``False`` to force the pure-JVM expression (no Python boundary —
    streaming plans or pandas-less installs), ``True`` to require
    Arrow. Both produce BIT-IDENTICAL signatures (cross-shape pinned).

    LAMBDA ARITY IS LOAD-BEARING (round-8 correctness fix): the
    previous form captured the loop variable with a default argument —
    ``transform(hs, lambda h, i=i: xxhash64(F.lit(i), h))`` — which
    makes the lambda TWO-parameter, and PySpark binds a 2-param array
    lambda as ``(element, array_index)``. The body's ``i`` therefore
    named the INDEX COLUMN (``F.lit`` of a Column passes through), not
    the captured Python int: every "hash function" computed the
    identical ``min(xxhash64(idx, h))`` and the signature degenerated
    to 64 copies of one minimum — banding became a single-hash
    equality join and est_jaccard was always 1 (repro:
    tools/hof_lambda_arity_repro.py). Capture loop variables in
    PySpark HOF lambdas via comprehension scope or a factory function,
    NEVER via default args. The fold below builds all ``n_hashes``
    expressions in a comprehension inside a single-arg lambda; it is
    regression-pinned against independently-computed per-i minima in
    tests/test_llm.py.

    The per-element ``n_hashes``-array is built INSIDE the fold's merge
    lambda (simhash's existing shape two functions down), so transient
    memory is O(n_hashes) per row — a transform-then-fold variant
    materializes the full |shingles|×n_hashes array-of-arrays first,
    ~5 MB of ArrayData for a 10 k-shingle document."""
    if use_arrow is None:
        use_arrow = pd is not None
    if use_arrow:
        if pd is None:
            raise RuntimeError(
                "minhash_from_hashes(use_arrow=True) needs pandas (Arrow "
                "batch transfer); install pandas or pass use_arrow=False "
                "for the pure-JVM expression kernel"
            )
        return _minhash_arrow(hashes, n_hashes)
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(None).cast("long"), n_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(i), h) for i in range(n_hashes)]),
            lambda a, b: F.least(F.coalesce(a, b), b),
        ),
    )


def minhash_signature(text: Column, n_hashes: int = 64, shingle_n: int = 3) -> Column:
    """One-expression convenience form (prefer the two-step
    shingle_hashes → materialize → minhash_from_hashes inside queries).
    Pinned to the JVM kernel: the Arrow kernel's pandas-UDF argument
    may not embed shingle_hashes' nested-lambda let-binding (python-UDF
    extraction mis-plans cross-scope lambda variables — see
    minhash_near_dup_pairs), and a single-expression form has no
    materialization boundary to hide it behind."""
    return minhash_from_hashes(shingle_hashes(text, shingle_n), n_hashes, use_arrow=False)


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """L2 at scale: MinHash LSH banding.

    signature(n_hashes) → split into ``bands`` bands of r = n/bands
    rows → hash each band → explode (doc, band_idx, band_hash) →
    self-join on (band_idx, band_hash) = candidate pairs → estimate
    similarity as the fraction of matching minhashes.

    Collision probability for true Jaccard s is 1-(1-s^r)^b — with
    64/16 the S-curve centers near s≈0.5. The only shuffle is the
    bucket join on band hashes; no O(n²) comparisons.

    The banded relation is checkpoint-materialized before the
    self-join: both join sides would otherwise recompute the whole
    shingle→minhash pipeline (the query's dominant CPU), since Spark
    reuses exchanges only for identical subplans and the two sides
    differ by their projections. Same pattern at cluster scale: compute
    signatures once, persist, then bucket-join the stored relation
    (measured ~25% off the query steady-state here).

    Documents too short to produce a single shingle (< ``shingle_n``
    tokens, or NULL text) are EXCLUDED before banding: their signature
    would be all-NULL, every such doc would hash to the identical band
    value in every band (concat_ws skips NULLs), and k short docs — a
    large population at corpus scale: empty lines, titles — would emit
    an O(k²) candidate blowup in every bucket, the exact cost the LSH
    design exists to avoid (r9 review). Shingle-less docs have no
    Jaccard-over-shingles identity to match on; exact dedup (L1)
    handles their duplicates.

    ``max_bucket`` (100 TB knob, r12): a band bucket of k docs emits
    k² candidate rows — one hot bucket (a near-identical boilerplate
    FAMILY that survived exact dedup: templated pages, license
    headers) turns the linear bucket join quadratic. When set, buckets
    larger than ``max_bucket`` are DROPPED before the self-join (one
    extra map-side-combined count + one linear semi-join — the same
    df-cap prescription winnowing/token-join already apply). Recall
    note: a true near-dup pair inside an over-cap bucket still pairs
    through any of its other ``bands − 1`` (smaller) buckets; an
    over-cap family identical in EVERY band is, by construction, a
    mass-duplicate family that near_dup_clusters over exact-hash edges
    (L1) handles more cheaply than k² pair rows would. Default None
    preserves exact historical results.

    Composition (r13): this is exactly
    ``minhash_pairs_from_signatures(minhash_signatures(...))`` — use
    the two pieces directly to run SEVERAL banding analyses off ONE
    sketch pass (the persist-the-sketch prescription above;
    q_dedup_sketch's capped and uncapped branches share one signature
    checkpoint this way)."""
    return minhash_pairs_from_signatures(
        minhash_signatures(df, id_col, text_col, n_hashes, shingle_n),
        n_hashes=n_hashes, bands=bands, threshold=threshold,
        max_bucket=max_bucket,
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """The sketch half of :func:`minhash_near_dup_pairs`: (doc, sig)
    with sig a length-``n_hashes`` minhash over word ``shingle_n``-
    grams, checkpoint-materialized. At 100 TB this relation is the one
    you PERSIST (partitioned however downstream banding shuffles) and
    re-band at will — banding over a stored signature column is linear
    and cheap next to the shingle→hash pass."""
    # the shingle-less exclusion filters on RAW TOKEN COUNT, not on
    # size(hs): Catalyst pushes a filter below the shingle projection by
    # duplicating the referenced expression into the predicate, so
    # `size(hs) > 0` evaluated the entire shingle→hash pipeline TWICE
    # per row (measured +30% on the minhash kernel at sf0.1, r10 A/B).
    # `size(split(text)) >= shingle_n` is the exact same predicate —
    # word_ngram_hashes yields empty iff tokens < n, NULL text drops
    # under both — and duplicating one split is cheap.
    # TWO checkpoint barriers when the Arrow signature kernel is in
    # play (it is by default):
    #
    # 1. the SHINGLE-HASH relation — load-bearing for plan validity,
    #    not just speed: without it CollapseProject inlines the whole
    #    shingle expression into the pandas-UDF argument, and Spark's
    #    python-UDF extraction mis-plans UDF arguments whose tree
    #    contains a NESTED HOF lambda referencing an OUTER lambda
    #    variable (shingle_hashes' let-binding shape) — the projection
    #    then evaluates interpreted and dies at runtime with
    #    "[INTERNAL_ERROR] Cannot evaluate expression: _sig(…)"
    #    (reproduced: single-level lambda args extract fine, cross-
    #    scope nested-lambda args do not). A materialized attribute is
    #    the one shape extraction always handles.
    # 2. the SIGNATURE relation — the original cost barrier: both
    #    self-join sides read the signatures, and without it the fold
    #    (or the Arrow kernel) runs once PER SIDE. Banding expressions
    #    below the sig checkpoint run once per side — slice+hash over a
    #    materialized 64-long array, noise next to the signature work.
    hs_rel = (
        df.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n)
        .select(
            F.col(id_col).alias("doc"),
            shingle_hashes(F.col(text_col), shingle_n).alias("hs"),
        )
        .localCheckpoint(eager=False)
    )
    return hs_rel.select(
        "doc", minhash_from_hashes(F.col("hs"), n_hashes).alias("sig")
    ).localCheckpoint(eager=False)


def _minhash_banded(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc, sig, band, bhash) — the banding projection shared by the
    pair stage and :func:`minhash_band_survivors`, with the band-shape
    validation both need."""
    if not 1 <= bands <= n_hashes:
        # bands=0 would ZeroDivisionError out of the modulo below, and
        # a negative divisor of n_hashes (e.g. 128 / -16) would pass it
        # while producing r < 0 — nonsense band slices (r9 ADVICE)
        raise ValueError(
            f"bands must satisfy 1 <= bands <= n_hashes: "
            f"n_hashes={n_hashes}, bands={bands}"
        )
    if n_hashes % bands:
        # bands > n_hashes would make r = 0 (every band hashes the
        # empty slice -> all docs collide in all buckets = full O(n²)
        # self-join); a non-dividing split silently drops the tail
        # hashes from banding. Both are misconfigurations.
        raise ValueError(
            f"bands must divide n_hashes: n_hashes={n_hashes}, bands={bands}"
        )
    r = n_hashes // bands
    return sig.select(
        "doc",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(
                        F.slice("sig", b * r + 1, r), lambda x: x.cast("string")
                    ))).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc", "sig", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash")
    )


def minhash_band_survivors(
    sig: DataFrame, n_hashes: int = 64, bands: int = 16,
    max_bucket: int = 2,
) -> DataFrame:
    """The (band, bhash) keys whose bucket size is ≤ ``max_bucket`` —
    the hot-bucket guard's survivor set as a STANDALONE relation, so a
    deployment that stores its sketches at ingest can store the bucket
    histogram verdict next to them (r15, the winnow-postings pattern):
    the size fold is a pure function of the signature relation and the
    banding policy, i.e. ingest-time state, not per-query work. Pass
    the materialized result to
    ``minhash_pairs_from_signatures(survivors=...)`` and the pair
    stage semi-joins it instead of re-folding bucket sizes (and
    instead of holding its own one-shot checkpoint). Caller
    materializes (persist/save) — same contract as the postings."""
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    return (
        _minhash_banded(sig, n_hashes, bands)
        .groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def minhash_pairs_from_signatures(
    sig: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    survivors: DataFrame | None = None,
) -> DataFrame:
    """The banding half of :func:`minhash_near_dup_pairs`: band an
    already-computed (doc, sig) relation, bucket-join, verify with the
    exact signature agreement fraction. ``sig`` should be materialized
    (:func:`minhash_signatures` checkpoints; a persisted table
    qualifies by construction) — both self-join sides read it.

    Hot-bucket guard, two forms: ``max_bucket`` pre-counts bucket
    sizes off the banded relation and semi-joins the surviving keys
    BEFORE the doc lists are collected (r16 — the r15 inline
    ``size(ds) <= cap`` post-collect filter still built the hot
    bucket's full array row first, the one shape no downstream split
    can fix); ``survivors`` semi-joins a prebuilt
    :func:`minhash_band_survivors` relation instead. NEITHER
    form holds per-call one-shot state anymore, so a caller may
    legitimately reuse the returned frame (bench rebuild-set rule,
    r15). The two forms produce identical pairs when the survivor
    relation was built with the same (n_hashes, bands, max_bucket)
    over the same ``sig`` — the caller owns that consistency, exactly
    as with the postings."""
    # r15 shape (guide-§8 + the cooccurrence trick this module already
    # uses): candidates come from ONE banding pass grouped by bucket
    # with row-local C(k,2) emission over the sorted doc list — the
    # bucket SELF-JOIN is gone (it re-executed the banding projection
    # once per side and paid join machinery for a tiny output; the
    # r13 shared-subplan note), and the signature arrays (64 longs ≈
    # 20× the key width) never ride the bucket exchange: they are
    # attached to the DEDUPED candidates by two joins against the
    # narrow sig relation the caller already materialized. The inline
    # max_bucket guard rides the same groupBy (`size(ds) <= cap`), so
    # this path no longer folds bucket sizes in a separate
    # checkpointed pass — identical pairs, no per-call one-shot state.
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    banded = _minhash_banded(sig, n_hashes, bands).drop("sig")
    if survivors is not None:
        banded = banded.join(survivors, ["band", "bhash"], "left_semi")
    elif max_bucket is not None:
        # r16 (r15 VERDICT #5): pre-aggregate bucket sizes and
        # semi-join BEFORE the collect_list so a degenerate hot bucket
        # never materializes its full doc array in one aggregation
        # buffer (guide §2.2/§2.5 — a single enormous key cannot be
        # split downstream; it must be dropped before collection).
        # Size-1 buckets are dropped here too — they emit no pairs —
        # so the final pair set is identical to the post-collect
        # ``size(ds) <= max_bucket`` filter this replaces (pinned in
        # test_llm's capped-vs-survivors equality).
        surv = (
            banded.groupBy("band", "bhash")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter((F.col("__bn") > 1) & (F.col("__bn") <= max_bucket))
            .drop("__bn")
        )
        banded = banded.join(surv, ["band", "bhash"], "left_semi")
    grouped = banded.groupBy("band", "bhash").agg(
        F.array_sort(F.collect_list("doc")).alias("ds")
    )
    keep = F.size("ds") > 1
    cand = (
        grouped.filter(keep)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
            )
            / F.lit(n_hashes),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select("doc_a", "doc_b", "est_jaccard")


def _simhash_arrow(hashes: Column) -> Column:
    """Arrow-batched SimHash vote fold (the minhash kernel's sibling):
    the JVM form runs 64 zip_with lambda steps PER TOKEN interpreted
    (the heaviest single stage of the sketch query, measured above the
    minhash fold); this computes the same fingerprint as 64 vectorized
    shift-mask-segmented-sum passes per Arrow batch.

    Bit-exact mirror of the JVM fold: bit i set iff strictly more
    tokens carry bit i than not (votes > 0); empty token arrays → 0
    fingerprint (zero votes, no bit strictly positive); NULL input →
    NULL. The input is the token-HASH array (single-level lambda —
    safe as a pandas-UDF argument; see minhash_near_dup_pairs on why a
    nested-lambda argument is not)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    active = SparkSession.getActiveSession()
    if active is not None:
        from dataworks_spark.session import ensure_package_shipped

        ensure_package_shipped(active)

    @pandas_udf("long")
    def _fp(hs: pd.Series) -> pd.Series:
        from dataworks_spark.functions.blasctl import (
            limit_blas_threads,
            retain_malloc_arena,
        )

        limit_blas_threads()
        retain_malloc_arena()
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (-1 if a is None else len(a) for a in hs), dtype=np.int64, count=n
        )
        nonempty = lens > 0
        out = np.zeros(n, dtype=np.int64)
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hs if a is not None and len(a)]
            ).view(np.uint64)
            row_lens = lens[nonempty].astype(np.uint64)
            starts = np.zeros(len(row_lens), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            fp = np.zeros(len(row_lens), dtype=np.uint64)
            one = np.uint64(1)
            for i in range(64):
                ones = np.add.reduceat((flat >> np.uint64(i)) & one, starts)
                # votes = ones - (len - ones) > 0  ⇔  2·ones > len
                fp |= ((2 * ones > row_lens).astype(np.uint64)) << np.uint64(i)
            out[nonempty] = fp.view(np.int64)
        result = out.astype(object)
        result[lens < 0] = None  # NULL input → NULL fingerprint
        return pd.Series(result)

    return _fp(hashes)


def simhash(text: Column, bits: int = 64, use_arrow: bool | None = None) -> Column:
    """64-bit SimHash: per token hash, vote +1/-1 on each bit position
    weighted by occurrence; fingerprint bit i set iff vote > 0.

    TWO kernels (the minhash_from_hashes auto-split pattern):
    ``use_arrow=None`` picks the Arrow vote fold when pandas is
    importable and ``bits == 64``; ``False`` forces the pure JVM
    nested-HOF aggregate (one pass, no explode, no Python boundary).
    Both produce bit-identical fingerprints (pinned)."""
    toks = F.split(text, " ")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    if use_arrow is None:
        use_arrow = pd is not None and bits == 64
    if use_arrow:
        if bits != 64:
            raise ValueError("the Arrow SimHash kernel is 64-bit only")
        if pd is None:
            raise RuntimeError(
                "simhash(use_arrow=True) needs pandas; pass use_arrow=False "
                "for the pure-JVM fold"
            )
        return _simhash_arrow(hashes)
    # votes[i] = Σ_tok (bit_i(hash) ? 1 : -1); the bit positions are
    # unrolled in Python (shift amounts must be static ints)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                    .cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    # fingerprint = Σ_{i: votes[i]>0} 2^i — zip votes with a literal
    # power array so the (expensive) votes fold appears once in the plan
    # bit 63 as a signed long is -2^63 (two's complement)
    powers = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(bits)]
    )
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cap_buckets(
    rel: DataFrame, keys: list, max_bucket: int | None
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket`` before a self-join
    (the shared 100 TB hot-bucket guard, r12): bucket sizes fold with
    map-side combine (shuffle = |buckets|), survivors attach via one
    linear semi-join. ``None`` = no capping (exact historical
    behavior)."""
    if max_bucket is None:
        return rel
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    small = (
        rel.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
        # both sides of the downstream self-join read the capped
        # relation — materialize the survivor keys once (|buckets|
        # rows) so the size fold doesn't run once per side (r13)
        .localCheckpoint(eager=False)
    )
    return rel.join(small, keys, "left_semi")


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, band_bits: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash bucket candidates: near-dup docs almost always share at
    least one 16-bit quarter of the 64-bit fingerprint (≤3 bit flips) —
    join on (quarter_idx, quarter_value) buckets, then exact Hamming
    distance via bit_count(xor).

    Checkpoint-materialized before the self-join for the same reason as
    :func:`minhash_near_dup_pairs`: the 64-bit vote fold is the
    query's dominant CPU and would otherwise run once per join side
    (measured ~2× on the fingerprint phase). ``max_bucket`` caps hot
    quarter buckets exactly like :func:`minhash_near_dup_pairs` — a
    64/band_bits-band pair inside a dropped bucket still pairs via its
    other quarters."""
    f = df.select(F.col(id_col).alias("doc"), simhash(F.col(text_col)).alias("fp"))
    return hamming_near_dup_pairs(f, "doc", "fp", band_bits, max_bucket)


def hamming_near_dup_pairs(
    f: DataFrame, id_col: str = "doc", fp_col: str = "fp", band_bits: int = 16,
    max_bucket: int | None = None, checkpoint: bool = True,
) -> DataFrame:
    """Quarter-bucket Hamming candidate pairs over ANY 64-bit
    fingerprint relation — the banding/verify kernel shared by text
    SimHash and image average-hash (llm/multimodal.py): two
    fingerprints within 64/band_bits − 1 bit flips always share a
    band, the bucket join generates candidates, and bit_count(xor)
    verifies exactly. The fingerprint relation is checkpoint-
    materialized before the self-join so the (possibly expensive)
    fingerprint derivation runs once, not once per join side.

    ``checkpoint=False`` skips that one-shot materialization: correct
    and cheap when ``f`` is ALREADY materialized (a persisted memo
    asset, a stored table) — the per-side recompute is then just the
    shift/mask quarter projection. The returned frame is then free of
    per-call state so a caller may reuse it across actions (bench
    rebuild-set rule, r15) — UNLESS ``max_bucket`` is also set: the
    inline size fold checkpoints its survivor keys per call, so a
    capped-and-reusable caller must instead prune with a prebuilt
    survivor relation (the minhash_band_survivors pattern)."""
    if not 1 <= band_bits <= 64:
        # band_bits=0 died with a bare ZeroDivisionError; band_bits>64
        # built ZERO quarters and silently returned no candidates —
        # the same silent-empty misconfiguration class as a
        # non-dividing MinHash band split (r9 ADVICE)
        raise ValueError(f"band_bits must satisfy 1 <= band_bits <= 64: {band_bits}")
    f = f.select(F.col(id_col).alias("doc"), F.col(fp_col).alias("fp"))
    mask = (1 << band_bits) - 1
    quarters = f.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("q"),
                        F.shiftright(F.col("fp"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("qv"),
                    )
                    for i in range(64 // band_bits)
                ]
            )
        ).alias("qq"),
    ).select(
        "doc", "fp", F.col("qq.q").alias("q"), F.col("qq.qv").alias("qv")
    )
    if checkpoint:
        quarters = quarters.localCheckpoint(eager=False)
    quarters = _cap_buckets(quarters, ["q", "qv"], max_bucket)
    a = quarters.select(F.col("doc").alias("doc_a"), F.col("fp").alias("fp_a"), "q", "qv")
    b = quarters.select(F.col("doc").alias("doc_b"), F.col("fp").alias("fp_b"), "q", "qv")
    return (
        a.join(b, ["q", "qv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .select("doc_a", "doc_b", "hamming")
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 50,
    rounds_per_probe: int = 2,
) -> DataFrame:
    """Connected components over a near-dup pair list → (id, cluster)
    with cluster = MIN doc id in the component — the deterministic
    canonical representative a dedup pipeline keeps.

    LOG-ROUNDS fixpoint: each round is min-label propagation over the
    edges (label ← min over neighbors' labels ∪ own label) followed by
    POINTER JUMPING (label ← label-of-label) — the standard
    path-halving connected-components plan. Propagation alone needs
    O(diameter) rounds; with the jump, the hop distance a node's label
    has traveled roughly doubles per round, so a 64-node chain
    converges in ~6 rounds instead of 63 (tested). Labels are monotone
    non-increasing per node (label(x) ≤ x always, so label-of-label
    never increases), which makes the jump safe to apply every round.
    Each probe batch is ONE Spark job (non-eager localCheckpoints
    materialized by the convergence probe).

    FUSED round shape (r15): propagation is ONE join + ONE aggregate
    against a static ``prop = sym ∪ (v, v)`` relation — the identity
    edges deliver each node its own label through the same join, so
    min(label) over the group IS least(own, neighbor-min) and the
    former separate left-join merge step (an extra exchange AND a
    second copy of the growing ``labels`` subtree in every analyzed
    plan) disappears. Driver-side plan analysis, not the probe job,
    dominates a fixture-scale round (measured ~5-7× the job), so the
    smaller per-round tree is the win at toy scale and one fewer
    exchange per round is the win at corpus scale.

    Convergence is detected IN the batch that reaches it: the last
    round of each batch carries each node's pre-round label out of the
    propagation aggregate (min(label) where dst==src — the identity
    row), and the probe counts rows whose label changed across that
    round (count_if(label != __prev), type-agnostic: direct equality
    on the native label type — ids here are routinely strings — with
    no hash-collision escape hatch). A round that changes nothing is a
    fixpoint (the round map is a deterministic function of the label
    state), so the loop breaks without the trailing
    confirm-no-change probe the previous xor-signature compare needed
    — one driver barrier fewer on every call (r15: this was half the
    probe jobs on the fixture graphs, which converge inside the first
    2-round batch).

    ``rounds_per_probe`` batches that many prop+jump rounds into each
    materialized job: rounds past convergence are no-ops, so
    overshooting is harmless, and on a barrier scheduler every probe
    skipped is a driver round-trip saved. Probe-only rounds count
    toward ``max_iterations`` in round units.

    The loop runs on its own private loop session
    (`ops/recursive._FixpointRuntime`, made for this call and shared
    with no other loop): AQE stays on there, and its byte-based
    coalescing (parallelismFirst=false) sizes each round's stages to
    the label relation's actual bytes — a 7k-edge graph runs 1-2 tasks
    per stage instead of inheriting the caller's parallelism floor,
    and a corpus-scale graph still fans out by bytes. Loop rounds never
    expand their input (min-label is row-preserving), which is exactly
    the precondition that conf is tuned for; the caller's session
    confs are never touched, and the RESULT is lifted back onto the
    caller's session so downstream actions plan under the caller's
    confs, mirroring ops/recursive.transitive_closure's exit."""
    from dataworks_spark.ops.recursive import _FixpointRuntime, _lift

    caller = pairs.sparkSession
    pairs = _FixpointRuntime(caller).lift(pairs)
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # non-eager: the first probe materializes edges + round 1 in ONE
    # job instead of paying a separate checkpoint action
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select("src")
        .dropDuplicates()
        .withColumn("label", F.col("src"))
        .localCheckpoint(eager=False)
    )
    # static propagation relation: the symmetric edges plus one
    # identity edge (v, v) per node, so the fused join below delivers
    # each node its own label alongside its neighbors' — built once,
    # checkpointed once, materialized by the first probe's job along
    # with sym and the label seed
    prop = sym.unionByName(
        labels.select("src", F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    if rounds_per_probe < 1:
        raise ValueError(f"rounds_per_probe must be ≥ 1: {rounds_per_probe}")
    for _ in range(0, max_iterations, rounds_per_probe):
        for _r in range(rounds_per_probe):
            last = _r == rounds_per_probe - 1
            # fused propagation: min over (own ∪ neighbor) labels in
            # one aggregate; the identity row (dst == src) also carries
            # the node's PRE-ROUND label out of the last round of the
            # batch for the in-batch convergence probe
            prev_agg = (
                [
                    F.min(
                        F.when(F.col("dst") == F.col("src"), F.col("label"))
                    ).alias("__prev")
                ]
                if last
                else []
            )
            labels = (
                prop.join(labels.withColumnRenamed("src", "dst"), on="dst")
                .groupBy("src")
                .agg(F.min("label").alias("label"), *prev_agg)
            )
            # pointer jump (path halving): label ← label-of-label. The
            # left join misses only when a node's label is already a
            # component root that the label relation maps to itself —
            # coalesce keeps it. One extra |V|-row equi-join per round
            # buys log-diameter total rounds.
            hop = labels.select(
                F.col("src").alias("__ln"), F.col("label").alias("__lp")
            )
            labels = (
                labels.join(hop, labels["label"] == hop["__ln"], "left")
                .select(
                    "src",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("__lp"), F.col("label")),
                    ).alias("label"),
                    *([F.col("__prev")] if last else []),
                )
            )
        labels = labels.localCheckpoint(eager=False)
        # changed-row count across the batch's LAST round: 0 ⇒ that
        # round was a no-op ⇒ the label state is a fixpoint (the round
        # map is deterministic). count_if is 0 on an empty relation,
        # so an empty graph breaks here immediately — the correct
        # (empty) fixpoint. Labels are never NULL (min over non-null
        # seeds), so the ANSI equality is total.
        changed = labels.agg(
            F.count_if(F.col("label") != F.col("__prev")).alias("c")
        ).first()[0]
        labels = labels.drop("__prev")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} rounds "
            "(component diameter exceeds the cap); raise max_iterations"
        )
    return _lift(
        labels.select(F.col("src").alias("id"), F.col("label").alias("cluster")),
        caller,
    )


def dedup_keep_canonical(
    df: DataFrame, id_col: str, pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Full near-dup dedup output: keep each cluster's canonical (min
    id) row plus every row that appears in no near-dup pair. The pair
    list comes from any candidate generator (MinHash bands, SimHash
    quarters, embedding LSH) — this is the final keep/drop decision."""
    clusters = near_dup_clusters(pairs, id_a, id_b)
    drop = clusters.filter(F.col("id") != F.col("cluster")).select(F.col("id").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")


def winnow_fingerprints(
    text: Column, shingle_n: int = 4, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every word ``shingle_n``-gram, slide a ``window`` over
    the hash sequence, keep each window's MINIMUM — the selected set is
    a sorted distinct array. The guarantee that makes this better than
    sampling: any shared run of ``window + shingle_n - 1`` tokens
    between two documents is caught by at least one shared fingerprint,
    while per-doc storage stays ~2/(window+1) of the shingle count.

    Hashes are md5 STRINGS compared lexicographically — the one hash an
    independent SQL engine reproduces bit-for-bit, so selection (not
    just counts) is oracle-checkable. Texts shorter than ``shingle_n``
    tokens fingerprint to []; hash sequences shorter than ``window``
    contribute their single overall minimum.

    All JVM higher-order expressions over one row — no shuffle, no
    Python. The single-element outer transform is the usual let-binding
    so the hash array is computed once, not once per window."""
    empty = F.array().cast("array<string>")
    return F.flatten(
        F.transform(
            F.array(F.transform(word_ngrams(text, shingle_n), lambda g: F.md5(g))),
            lambda hs: F.when(F.size(hs) <= 0, empty).otherwise(
                F.array_sort(
                    F.array_distinct(
                        F.transform(
                            F.sequence(
                                F.lit(1), F.greatest(F.size(hs) - (window - 1), F.lit(1))
                            ),
                            lambda i: F.array_min(F.slice(hs, i, window)),
                        )
                    )
                )
            ),
        )
    )


def winnow_fingerprint_relation(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    window: int = 4,
) -> DataFrame:
    """The exploded (doc, fp) winnowing-fingerprint relation — the
    PERSISTABLE asset (r14, same split the MinHash kernels got in r13:
    signatures are what a 100 TB deployment stores; banding/pairing is
    the cheap re-runnable step). Callers comparing several ``max_df``
    policies compute this once (checkpoint/persist it) and band each
    policy off the shared relation instead of re-hashing the corpus."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(winnow_fingerprints(F.col(text_col), shingle_n, window)).alias("fp"),
    )


def winnow_postings(fps: DataFrame, max_keep_df: int | None = None) -> DataFrame:
    """(doc, fp) → the POSTINGS relation ``(fp, ds)`` with ``ds`` the
    sorted doc-id list per fingerprint — the materialized form of the
    pair kernel's FIRST shuffle (groupBy fp), factored out so it is
    paid once per corpus, not once per audit policy (r15; the policy
    knobs — ``max_df``, ``min_shared`` — are all DOWNSTREAM of this
    group: a df-cap is a filter on ``size(ds)``, so every policy bands
    the same stored postings with zero re-shuffle of the corpus-sized
    relation). Singleton postings (size 1 — most of natural text) are
    KEPT here: they are what makes the stored asset reusable for
    containment/df statistics; the pairing stage drops them for free.

    This is the durable sibling of the MinHash signature checkpoint:
    at 100 TB the deployment stores ``(fp, ds)`` at ingest
    (:func:`save_winnow_postings`) and every contamination/overlap run
    pays only the pair-side shuffle, which ``max_df`` bounds.

    ``max_keep_df`` (r16, r15 VERDICT #5): bound the collected doc
    list. The plain groupBy builds every posting's full array in one
    aggregation buffer — at corpus scale one boilerplate fingerprint
    with df in the millions materializes a single multi-million-element
    array row during the asset build (guide §2.2: a single enormous
    key no mitigation can split). With ``max_keep_df`` set, a window
    over ``fp`` counts the exact df and numbers each fingerprint's rows
    in the same shuffle, and a filter BEFORE aggregation keeps every row
    of a cold fingerprint but only one row of a hot one; the output
    gains an exact ``df`` column (long) and hot rows are kept as
    ``(fp, ds=NULL, df)`` so the stored asset still serves df
    statistics. Any policy with ``max_df ≤ max_keep_df`` reads
    identical pairs; :func:`winnow_pairs_from_postings` refuses loudly
    (row-level raise) if asked to band past the cap. Default ``None``
    preserves the legacy ``(fp, ds)`` schema and single-shuffle build."""
    if max_keep_df is None:
        return fps.groupBy("fp").agg(
            F.array_sort(F.collect_list("doc")).alias("ds")
        )
    if max_keep_df < 1:
        raise ValueError(f"max_keep_df must be >= 1, got {max_keep_df}")
    # ONE exchange (r16, guide §2.4 — the first capped formulation paid
    # a localCheckpoint of the corpus-sized exploded relation plus THREE
    # fp-keyed passes: df fold, anti-join, collect; measured 12.6 s of
    # the sf0.1 cold bill vs 2.4 s uncapped): a window over fp computes
    # the exact df and a row_number in the same shuffle, one filter
    # keeps every row of a cold fingerprint but exactly ONE row of a
    # hot one — so no aggregation buffer ever holds more than
    # max_keep_df elements — and the final aggregate reuses the
    # window's hash partitioning (no second exchange; plan-asserted in
    # test_winnow_postings_max_keep_df_hot_key).
    from pyspark.sql import Window

    wp = Window.partitionBy("fp")
    tagged = (
        fps.withColumn("df", F.count(F.lit(1)).over(wp))
        .withColumn(
            "__rn", F.row_number().over(wp.orderBy("doc"))
        )
        .filter((F.col("df") <= max_keep_df) | (F.col("__rn") == 1))
    )
    agg = tagged.groupBy("fp").agg(
        F.max("df").alias("df"),
        F.array_sort(F.collect_list("doc")).alias("__ds"),
    )
    return agg.select(
        "fp",
        F.when(F.col("df") <= max_keep_df, F.col("__ds")).alias("ds"),
        "df",
    )


def winnow_pairs_from_postings(
    postings: DataFrame, min_shared: int = 2, max_df: int = 50
) -> DataFrame:
    """Policy stage over prebuilt postings: df-cap filter (row-local —
    no shuffle), C(k,2) pair emission with row-local array
    combinatorics, one pair-keyed shuffle to count shared
    fingerprints. Output identical to :func:`winnow_overlap_pairs`
    (equivalence pinned in tests).

    Accepts both postings schemas: the legacy ``(fp, ds)`` and the
    df-capped ``(fp, ds, df)`` (:func:`winnow_postings` with
    ``max_keep_df``). On the capped schema the df filter uses the exact
    stored count, and a surviving row whose ``ds`` was truncated away
    (``max_df`` exceeds the build's ``max_keep_df``) raises at
    execution rather than silently dropping its pairs."""
    pair = lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))  # noqa: E731
    if "df" in postings.columns:
        kept = postings.filter(
            (F.col("df") > 1) & (F.col("df") <= max_df)
        ).withColumn(
            "ds",
            F.when(
                F.col("ds").isNull(),
                F.raise_error(
                    F.lit(
                        "winnow_pairs_from_postings: max_df exceeds the "
                        "postings' max_keep_df — rebuild the postings with "
                        "a larger cap"
                    )
                ).cast(postings.schema["ds"].dataType),
            ).otherwise(F.col("ds")),
        )
    else:
        kept = postings.filter((F.size("ds") > 1) & (F.size("ds") <= max_df))
    return (
        kept
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                            lambda y: pair(x, y),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= min_shared)
        .select(
            F.col("doc_a"), F.col("doc_b"), F.col("inter").alias("n_shared")
        )
    )


def winnow_pairs_from_fingerprints(
    fps: DataFrame, min_shared: int = 2, max_df: int = 50
) -> DataFrame:
    """Pairing stage over a prebuilt (doc, fp) relation — see
    :func:`winnow_overlap_pairs` for semantics and the df-cap.
    Composition of the r15 postings split; callers comparing policies
    should build :func:`winnow_postings` once and band it."""
    return winnow_pairs_from_postings(
        winnow_postings(fps), min_shared=min_shared, max_df=max_df
    )


def save_winnow_postings(
    postings: DataFrame, path: str, source_fingerprint: str | None = None
) -> None:
    """Persist the postings relation as the durable train-once sidecar
    (r15 — the LshIndex/IvfIndex save/load contract applied to the
    winnowing asset its own docstring promises): parquet at ``path``
    plus a ``_dw_meta.json`` stamp carrying both the files' own
    fingerprint (tamper evidence, like every engine-written table) and
    ``source_fingerprint`` — the CORPUS fingerprint the postings were
    built from (:func:`dataworks_spark.session.table_fingerprint` of
    the documents table), so a load can refuse stale postings after
    the corpus moved."""
    from dataworks_spark.session import save_artifact_table

    save_artifact_table(
        postings, path,
        source_fingerprint=source_fingerprint, writer="winnow_postings",
    )


def load_winnow_postings(
    spark, path: str, expect_fingerprint: str | None = None
) -> DataFrame:
    """Reopen a saved postings sidecar. ``expect_fingerprint`` (the
    CURRENT corpus fingerprint) enforces the staleness contract the
    ANN sidecars use: a mismatch — or a sidecar with no recorded
    source fingerprint at all — refuses, because unverifiable counts
    as stale (contamination pairs computed from postings of a corpus
    that no longer exists are silently wrong, the same failure mode as
    stale centroids). ``None`` skips the check (legacy trust-the-path).
    File-level tamper is always verified via the ``_dw_meta.json``
    stamp the save wrote."""
    from dataworks_spark.session import load_artifact_table

    return load_artifact_table(
        spark, path,
        expect_fingerprint=expect_fingerprint, what="winnow postings sidecar",
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Local-overlap candidate pairs by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for ordered pairs sharing ≥ ``min_shared``
    selected fingerprints. Catches documents that share PASSAGES (a
    quoted paragraph, boilerplate block, plagiarised section) that
    whole-document similarity misses.

    ``max_df`` drops fingerprints appearing in more than that many
    documents before pairing (the paper's own advice for boilerplate):
    a fingerprint shared by k docs emits C(k,2) pairs, so the pair
    space is bounded by Σ C(df ≤ max_df, 2) instead of the hub blowup.
    Pairing reuses :func:`cooccurrence_pairs` with its ``max_df`` cap —
    two shuffles, no self-join. Composition of the two stages above;
    multi-policy callers should build the fingerprint relation once
    and band each policy off it."""
    return winnow_pairs_from_fingerprints(
        winnow_fingerprint_relation(df, text_col, id_col, shingle_n, window),
        min_shared=min_shared,
        max_df=max_df,
    )
