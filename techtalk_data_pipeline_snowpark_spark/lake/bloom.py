"""Per-file key bloom filters → file-grain copy-on-write MERGE.

Zone maps (lake/stats.py) prune mutations whose predicates correlate with
the file layout (clustered timestamps, sorted ids). CDC merge keys do NOT:
(repo, path) strings — like any uuid/hash key — are uniformly distributed,
so within a touched bucket every file's key min/max spans the whole range
and zone maps prune nothing. MERGE therefore rewrote *every* file in a
touched bucket: one changed key against a 10 GB bucket rewrote 10 GB.

This module gives each data file a small per-column bloom filter over the
table's key columns (the role of Iceberg puffin blobs / Delta's bloom index):

- **build** (stage time, opt-in via table property ``lake.bloom.cols``):
  after the staging write, the key columns of each new file are read back
  (column-pruned parquet read, threaded — the same driver-side seam as the
  zone-map footer pass; on a real cluster both would ride the write tasks)
  and hashed into an m-bit bloom. All blooms of one commit are packed into
  ONE sidecar blob under ``data/_bf/``; add-entries carry only
  ``{"ref", per-col offsets, m, k, kind}`` so the log stays small.
- **probe** (merge time): one vectorized pass over the source keys
  (``mapInPandas``, blooms broadcast) marks which touched files MAY contain
  a source key. Files that cannot match are *carried over unchanged* —
  write amplification drops from bucket-grain to file-grain. False
  positives cost a redundant rewrite; false negatives are impossible
  (build and probe share one normalization + hash pipeline, tested by a
  property test over random key sets).
- **point-predicate pruning** (UPDATE/DELETE discovery): ``col = lit`` /
  ``col IN (...)`` conjuncts are tested driver-side against each candidate
  file's bloom, after zone maps — a point DELETE on a random key opens ~1
  file instead of a whole bucket.

Hashing: ``pandas.util.hash_array`` (SipHash-based, deterministic across
processes and pandas versions for a fixed hash_key; integral widths hash
identically, so int→long key widening — the evolution ``reconcile``
permits — keeps every persisted bloom valid). The second hash for
double-hashing is a splitmix64 finalizer of the first (``hash_array``
ignores ``hash_key`` for numeric dtypes, so two keyed calls would collide).
Columns containing NULLs get no bloom (their files always survive —
conservative, and eqNullSafe merge semantics stay exact).
"""

from __future__ import annotations

import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np

PROP_BLOOM_COLS = "lake.bloom.cols"
BF_ALGO = 1  # pandas hash_array(k1) + splitmix64 second hash
_HASH_KEY = "0123456789123456"
BITS_PER_ROW = 10  # ~1% fpp at k=7
K_HASHES = 7
MIN_BITS = 1024
MAX_BITS = 1 << 23  # 1 MiB per column per file, fpp degrades past this

_U = np.uint64


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — independent second hash, forced odd so the
    double-hash probe sequence cycles through all m bits."""
    h = (h ^ (h >> _U(30))) * _U(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> _U(27))) * _U(0x94D049BB133111EB)
    return (h ^ (h >> _U(31))) | _U(1)


def _hash_pair(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    from pandas.util import hash_array

    h1 = hash_array(vals, hash_key=_HASH_KEY, categorize=False)
    return h1, _mix64(h1)


# ------------------------------------------------------------ normalization
# One rule for build, probe, and point literals. Kinds mirror bucket_expr's
# widening-invariance contract: integral → int64 ("i"), float → float64
# ("f"); pandas hashes int32/int64 of equal value identically, so a bloom
# built before an int→long widening keeps filtering after it.


def kind_of(dtype) -> str | None:
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return "s"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dtype, T.DateType):
        return "d"
    if isinstance(dtype, T.TimestampType):
        return "t"
    if isinstance(dtype, T.BooleanType):
        return "b"
    return None


def _norm_np(values, kind: str) -> np.ndarray:
    """numpy array (no nulls) → hash-ready array under ``kind``."""
    if kind == "s":
        # str objects on both sides: pyarrow string→to_numpy and pandas
        # object columns (binary columns are not bloomable — kind_of=None)
        return np.asarray(values, dtype=object)
    if kind == "i":
        return np.asarray(values).astype(np.int64)
    if kind == "f":
        return np.asarray(values).astype(np.float64)
    if kind == "d":  # epoch days
        a = np.asarray(values)
        if a.dtype.kind == "M":
            return a.astype("datetime64[D]").astype(np.int64)
        return np.array(
            [(v - __import__("datetime").date(1970, 1, 1)).days for v in a],
            dtype=np.int64,
        )
    if kind == "t":  # epoch micros (UTC)
        a = np.asarray(values)
        if a.dtype.kind == "M":
            return a.astype("datetime64[us]").astype(np.int64)
        import datetime as _dt

        out = []
        for v in a:
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            out.append(int((v - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6))
        return np.array(out, dtype=np.int64)
    if kind == "b":
        return np.asarray(values).astype(np.int64)
    raise ValueError(kind)


def norm_literal(v, kind: str) -> np.ndarray | None:
    """One driver-side literal (already zone-map-normalized: date→days,
    ts→micros ints) → 1-element hash-ready array, or None if incompatible."""
    try:
        if kind == "s":
            return np.array([v], dtype=object) if isinstance(v, str) else None
        if kind in ("i", "d", "t", "b"):
            if isinstance(v, bool):
                return np.array([int(v)], dtype=np.int64)
            if isinstance(v, int):
                return np.array([v], dtype=np.int64)
            return None
        if kind == "f":
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return np.array([float(v)], dtype=np.float64)
            return None
    except (ValueError, OverflowError):
        return None
    return None


# ------------------------------------------------------------ build / test
def _sized(n_rows: int) -> tuple[int, int]:
    m = max(MIN_BITS, min(MAX_BITS, int(n_rows) * BITS_PER_ROW))
    m = (m + 63) & ~63  # whole 8-byte words
    return m, K_HASHES


def build_bloom(vals: np.ndarray, m: int, k: int) -> bytes:
    buf = np.zeros(m // 8, dtype=np.uint8)
    h1, h2 = _hash_pair(vals)
    for i in range(k):
        idx = (h1 + _U(i) * h2) % _U(m)
        np.bitwise_or.at(
            buf,
            (idx >> _U(3)).astype(np.int64),
            (np.left_shift(_U(1), idx & _U(7))).astype(np.uint8),
        )
    return buf.tobytes()


def might_contain(buf: np.ndarray, m: int, k: int, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Vectorized membership: buf is uint8 view of the bloom bytes."""
    out = np.ones(len(h1), dtype=bool)
    for i in range(k):
        idx = (h1 + _U(i) * h2) % _U(m)
        bits = buf[(idx >> _U(3)).astype(np.int64)] >> (idx & _U(7)).astype(np.uint8)
        out &= (bits & 1).astype(bool)
        if not out.any():
            break
    return out


# ------------------------------------------------------------ table plumbing
def bloom_cols_of(snap) -> list[str]:
    """Configured bloom columns that exist in the snapshot schema with a
    bloomable type. Empty ⇒ blooms disabled (the default)."""
    raw = snap.properties.get(PROP_BLOOM_COLS)
    if not raw:
        return []
    try:
        want = json.loads(raw)
    except (TypeError, ValueError):
        return []
    by = {f.name.lower(): f.dataType for f in snap.schema.fields}
    return [c for c in want if kind_of(by.get(c.lower())) is not None]


def bloom_specs(schema, cols: list[str] | None) -> list[tuple[str, str]]:
    """[(col, kind)] of the requested columns that exist in ``schema`` with
    a bloomable type."""
    by = {f.name.lower(): f for f in schema.fields}
    return [
        (c, kind_of(by[c.lower()].dataType))
        for c in cols or []
        if c.lower() in by and kind_of(by[c.lower()].dataType) is not None
    ]


def build_file_blooms(path: str, specs: list[tuple[str, str]]) -> dict | None:
    """{col: (bitset bytes, m, k, kind)} for one data file, read back
    column-pruned. Columns with nulls (or an empty file) get no bloom — the
    file then always survives. None when no column qualifies or the read
    fails: pruning is an optimization, never a correctness gate."""
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(path, columns=[c for c, _ in specs])
        out = {}
        for c, kind in specs:
            col = tbl.column(c)
            if col.null_count > 0 or len(col) == 0:
                continue
            vals = _norm_np(col.to_numpy(zero_copy_only=False), kind)
            m, k = _sized(len(vals))
            out[c] = (build_bloom(vals, m, k), m, k, kind)
        return out or None
    except Exception:
        return None


def pack_blooms(built: list[dict | None]) -> tuple[bytes, list[dict | None]]:
    """Pack per-file bloom builds into ONE sidecar blob. Returns the blob
    and, aligned with ``built``, each file's ``{col: {o, n, m, k, t}}``
    offsets into it (None where the file has no bloom)."""
    blob = bytearray()
    metas: list[dict | None] = []
    for res in built:
        colmeta = None
        if res:
            colmeta = {}
            for c, (buf, m, k, kind) in res.items():
                colmeta[c] = {"o": len(blob), "n": len(buf), "m": m, "k": k, "t": kind}
                blob += buf
        metas.append(colmeta)
    return bytes(blob), metas


def bloom_meta(ref: str, colmeta: dict) -> dict:
    """The add-entry ``bf`` meta of one file whose bitsets live in ``ref``."""
    return {"ref": ref, "cols": colmeta, "a": BF_ALGO}


def enrich_adds_with_blooms(table, adds: list[dict], schema, cols: list[str]) -> None:
    """Build per-column blooms for freshly staged files and attach ``bf``
    meta to each add-entry, packing all bitsets into ONE sidecar blob per
    commit (``data/_bf/<uuid>.bin``) written through the TableStore.
    Any per-file failure degrades to a bloom-less entry."""
    specs = bloom_specs(schema, cols)
    if not adds or not specs:
        return
    paths = [os.path.join(table.root, a["path"]) for a in adds]
    with ThreadPoolExecutor(max_workers=min(16, len(adds))) as ex:
        built = list(ex.map(lambda p: build_file_blooms(p, specs), paths))
    blob, metas = pack_blooms(built)
    if not blob:
        return
    from .table import DATA_DIR

    rel = f"{DATA_DIR}/_bf/{uuid.uuid4().hex}.bin"
    table.store.ensure_dir(f"{DATA_DIR}/_bf")
    table.store.put_if_absent(rel, blob)
    for a, colmeta in zip(adds, metas):
        if colmeta:
            a["bf"] = bloom_meta(rel, colmeta)


def _load_file_blooms(table, metas, cols, by_kind):
    """[(path, {col: (np.uint8 buf, m, k)})] for files with usable blooms,
    reading each sidecar blob exactly once. ``by_kind``: col → expected kind
    under the CURRENT schema; a stored kind mismatch (a re-type the bucket
    hash rules should have refused anyway) disqualifies the column."""
    blobs: dict[str, bytes] = {}
    out = []
    for p, meta in metas:
        bf = (meta or {}).get("bf")
        if not bf or bf.get("a") != BF_ALGO or not bf.get("ref"):
            continue
        usable = {}
        for c in cols:
            cm = (bf.get("cols") or {}).get(c)
            if not cm or cm.get("t") != by_kind.get(c):
                continue
            # meta sanity: n bytes must back exactly m bits (m is rounded to
            # whole 64-bit words at build time, so m//8 == n always holds for
            # entries we wrote). A corrupted/hand-edited meta with m > 8n
            # would make might_contain index past the buffer inside an
            # executor — degrade to no-pruning like every other bloom
            # failure path instead of failing the merge job.
            if (
                not isinstance(cm.get("m"), int)
                or not isinstance(cm.get("k"), int)
                or not isinstance(cm.get("n"), int)
                or cm["m"] <= 0
                or cm["k"] <= 0
                or cm["m"] // 8 != cm["n"]
            ):
                continue
            ref = bf["ref"]
            if ref not in blobs:
                try:
                    blobs[ref] = table.store.read_bytes(ref)
                except Exception:
                    blobs[ref] = b""
            blob = blobs[ref]
            if len(blob) < cm["o"] + cm["n"]:
                continue
            usable[c] = (
                np.frombuffer(blob, dtype=np.uint8, count=cm["n"], offset=cm["o"]),
                cm["m"],
                cm["k"],
            )
        if usable:
            out.append((p, usable))
    return out


def surviving_files_by_bloom(
    table, snap, source, key_cols: list[str], touched_files: list[str]
) -> tuple[list[str], int]:
    """(files that MAY contain a source key, count skipped).

    Files without usable blooms always survive. One distributed pass over
    the source keys (``mapInPandas``; blooms broadcast, ≤ a few KB per
    file): every partition tests its key batch against the blooms of the
    files in each key's own bucket and emits the surviving file ids —
    bounded collect (≤ len(touched_files) ints)."""
    from pyspark.sql import functions as F  # noqa: F401  (bucket_expr dep)

    from .table import bucket_expr

    by_kind = {
        c: kind_of(
            next(
                (f.dataType for f in snap.schema.fields if f.name.lower() == c.lower()),
                None,
            )
        )
        for c in key_cols
    }
    # "t" (timestamp) keys are excluded from the DISTRIBUTED probe: the
    # build side hashes parquet's UTC-normalized micros, but pandas batches
    # inside mapInPandas carry session-timezone-converted values — a tz
    # mismatch would make hashes differ and prune a file that DOES hold the
    # key (a false negative = a wrong merge). Point-literal pruning still
    # covers timestamps (its literals share the stats normalization).
    # "f" (float) keys are excluded too: Arrow→pandas delivers BOTH null and
    # NaN float slots as NaN, so the probe cannot tell a null source key
    # (matches nothing) from a NaN one (matches NaN under Spark's NaN=NaN
    # join semantics) — masking it risks a false negative, hashing it risks
    # none but makes nulls "match". Float merge keys are pathological
    # anyway; they simply don't prune.
    if any(by_kind[c] in (None, "t", "f") for c in key_cols):
        return touched_files, 0
    # The probe hashes RAW source values; the blooms were built from values
    # under the TARGET schema. A cross-kind source column (e.g. string keys
    # against a long target column — which the merge's eqNullSafe join still
    # matches via implicit cast) would hash differently and silently skip a
    # matching file (lost update + duplicate insert), or crash _norm_np in
    # the executor. Same-kind width differences are safe (_norm_np widens
    # i→int64 / f→float64, and pandas hashes equal values identically), so
    # only a kind mismatch disqualifies pruning.
    src_fields = {f.name.lower(): f for f in source.schema.fields}
    for c in key_cols:
        sf = src_fields.get(c.lower())
        if sf is None or kind_of(sf.dataType) != by_kind[c]:
            return touched_files, 0
    metas = [(p, snap.files.get(p)) for p in touched_files]
    with_bf = _load_file_blooms(table, metas, key_cols, by_kind)
    if not with_bf:
        return touched_files, 0
    paths = [p for p, _ in with_bf]
    pidx = {p: i for i, p in enumerate(paths)}
    per_bucket: dict[int, list] = {}
    for p, usable in with_bf:
        b = (snap.files.get(p) or {}).get("bucket")
        if b is None:
            return touched_files, 0  # unbucketed file in a pruned merge: bail
        per_bucket.setdefault(int(b), []).append((pidx[p], usable))

    sc = table.spark.sparkContext
    bc = sc.broadcast(per_bucket)
    kinds = dict(by_kind)
    keys = list(key_cols)

    def probe(batches):
        import pandas as pd

        payload = bc.value
        surv: set[int] = set()
        n_files = sum(len(v) for v in payload.values())
        for pdf in batches:
            if len(surv) >= n_files:
                break
            b_arr = pdf["_b"].to_numpy()
            hashes = {}
            for c in keys:
                ser = pdf[c]
                nulls = pd.isna(ser).to_numpy()
                vals = ser.to_numpy()
                if nulls.any():
                    # hash only the non-null slots and scatter back; null
                    # slots keep hash 0 and are masked out of every test
                    h1 = np.zeros(len(vals), dtype=np.uint64)
                    h2 = np.zeros(len(vals), dtype=np.uint64)
                    nn = ~nulls
                    if nn.any():
                        a, b = _hash_pair(_norm_np(vals[nn], kinds[c]))
                        h1[nn], h2[nn] = a, b
                else:
                    h1, h2 = _hash_pair(_norm_np(vals, kinds[c]))
                hashes[c] = (h1, h2, nulls)
            for b in np.unique(b_arr):
                entries = payload.get(int(b))
                if not entries:
                    continue
                in_bucket = b_arr == b
                for fi, usable in entries:
                    if fi in surv:
                        continue
                    ok = in_bucket.copy()
                    for c, (buf, m, k) in usable.items():
                        h1, h2, nulls = hashes[c]
                        # a null source key can only match a null target
                        # key; bloom'd columns are null-free → miss
                        ok &= ~nulls
                        if not ok.any():
                            break
                        ok &= might_contain(buf, m, k, h1, h2)
                        if not ok.any():
                            break
                    if ok.any():
                        surv.add(fi)
        yield pd.DataFrame({"i": np.array(sorted(surv), dtype=np.int64)})

    # alias each key to its canonical name: a case-mismatched source column
    # (resolved case-insensitively by Spark) would otherwise KeyError in the
    # executor's pdf[c] lookup
    probed = source.select(
        *[F.col(c).alias(c) for c in keys],
        bucket_expr(keys, snap.num_buckets, snap.schema).alias("_b"),
    )
    rows = probed.mapInPandas(probe, schema="i long").distinct().collect()
    alive = {paths[int(r["i"])] for r in rows}
    bloomed = set(paths)
    out = [p for p in touched_files if p not in bloomed or p in alive]
    return out, len(touched_files) - len(out)


# --------------------------------------------------- point-predicate pruning
def extract_point_literals(condition) -> dict[str, list]:
    """Top-level conjuncts of shape ``col = lit`` / ``col IN (lits)`` →
    {col: [normalized literals]}. Anything else is ignored — other
    conjuncts only further restrict the match set, so bloom-testing the
    extracted columns alone stays conservative."""
    from .stats import _args, _attr_name, _literal

    out: dict[str, list] = {}

    def walk(e):
        if e.getClass().getSimpleName() != "UnresolvedFunction":
            return
        fname = str(e.functionName())
        kids = _args(e)
        if fname == "and":
            walk(kids[0])
            walk(kids[1])
            return
        if fname in ("=", "==", "<=>"):
            for a, b in ((kids[0], kids[1]), (kids[1], kids[0])):
                name = _attr_name(a)
                v, ok = _literal(b)
                if name is not None and ok and v is not None:
                    out.setdefault(name, []).append(v)
                    return
            return
        if fname == "in":
            name = _attr_name(kids[0])
            if name is None:
                return
            vals = []
            for kk in kids[1:]:
                v, ok = _literal(kk)
                if not ok or v is None:
                    return  # non-literal member → can't bound the set
                vals.append(v)
            if vals:
                out.setdefault(name, []).extend(vals)

    try:
        walk(condition._jc.node())
    except Exception:
        return {}
    return out


def prune_files_by_point_blooms(table, snap, candidates: list[str], condition) -> list[str]:
    """After zone maps: drop candidate files whose blooms prove no row can
    satisfy an equality/IN conjunct. Sound because every surviving conjunct
    must hold — if ``col = lit`` can't hold in a file, nothing matches."""
    lits = extract_point_literals(condition)
    if not lits:
        return candidates
    by_kind = {
        f.name: kind_of(f.dataType)
        for f in snap.schema.fields
        if kind_of(f.dataType) is not None
    }
    cols = [c for c in lits if by_kind.get(c)]
    if not cols:
        return candidates
    metas = [(p, snap.files.get(p)) for p in candidates]
    with_bf = dict(_load_file_blooms(table, metas, cols, by_kind))
    if not with_bf:
        return candidates
    out = []
    for p in candidates:
        usable = with_bf.get(p)
        if not usable:
            out.append(p)
            continue
        keep = True
        for c, (buf, m, k) in usable.items():
            hit = False
            for v in lits[c]:
                arr = norm_literal(v, by_kind[c])
                if arr is None:
                    hit = True  # incomparable literal → stay conservative
                    break
                h1, h2 = _hash_pair(arr)
                if might_contain(buf, m, k, h1, h2)[0]:
                    hit = True
                    break
            if not hit:
                keep = False  # an equality conjunct provably can't hold here
                break
        if keep:
            out.append(p)
    return out
