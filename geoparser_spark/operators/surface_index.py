"""Compact gazetteer surface index and the one-pass geotag kernel.

The index is a few flat numpy arrays, built once per gazetteer input
by one Arrow pass over the gazetteer, shipped to the workers with
``SparkContext.addFile`` and opened there with
``np.load(mmap_mode="r")``, so the Python workers of one host share its
pages.  Probe keys are fixed width (*CAMEL Hash Table*, EDBT'26):
64-bit ``blake2b`` hashes of a surface's first token and of the whole
surface.  The kernel matches every surface n-gram of a document in one
left-to-right pass over its tokens (*Real-Time Multi-Pattern Detection
over Event Streams*, SIGMOD'19) and then applies, per document, the
longest-match, scoring and primary rules that ``geotag.py`` documents.
The stage has no explode, no join and no shuffle.

Arrays (S distinct surfaces, E gazetteer entries, F distinct first
tokens):

  ``first_hash[F]`` int64    sorted first-token hashes
  ``first_maxn[F]`` int8     longest surface (tokens) starting with one
  ``gram_hash[S]``  int64    sorted whole-surface hashes; a surface id
                             is its position here
  ``surf_off[S+1]``, ``surf_blob``   UTF-8 surface text, read on hash
                             hits only (the exact-equality check)
  ``cand_off[S+1]``, ``cand_ent``    surface id -> entry ids (CSR)
  ``geonameid``, ``fcode`` (class code), ``country``, ``admin1``
  (int32 codes, -1 = NULL), ``population``   [E]   what scoring reads
  ``latitude``, ``longitude``, ``name_off[E+1]``, ``name_blob``,
  ``name_valid``   [E]   read for winners only
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import math
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from geoparser_spark.schemas import GEOTAGGED

# 5 covers GeoNames' long official names ("Islamic Republic of Iran",
# "United States of America") that the reference's Lucene index matches
# (reference: README.md:60-85); 3 silently lost their recall.
MAX_NGRAM = 5

# feature-code weights (deterministic class prior)
CLASS_WEIGHTS = [
    ("PCLI", 5.0), ("ADM1", 4.0), ("PPLC", 3.5), ("PPLA", 3.0),
    ("PPLA2", 2.5), ("PPL", 2.0),
]
# class codes: 0 = NULL feature code, 1 = any unweighted code, then one
# code per weighted class in CLASS_WEIGHTS order
_FCODE = {code: i + 2 for i, (code, _) in enumerate(CLASS_WEIGHTS)}
_WEIGHT = (1.0, 1.0, *(w for _, w in CLASS_WEIGHTS))
_NULL_FC, _PCLI, _ADM1 = 0, _FCODE["PCLI"], _FCODE["ADM1"]

_NON_ALNUM = re.compile(r"[\W_]+")


def normalize(s: str) -> str:
    """Python twin of ``geotag.normalize_text``: each run of characters
    that are neither letters nor digits becomes one space, then
    lower-case and trim spaces."""
    return _NON_ALNUM.sub(" ", s).lower().strip(" ")


def hash64(s: str) -> int:
    """Stable signed 64-bit probe key of a token or n-gram."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(),
        "little", signed=True)


# ------------------------------------------------------------------ build

_ROWS = T.StructType([
    T.StructField("geonameid", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("fcode", T.ByteType()),
    T.StructField("country_code", T.StringType()),
    T.StructField("admin1_code", T.StringType()),
    T.StructField("population", T.LongType()),
    T.StructField("surfaces", T.ArrayType(T.StringType())),
    T.StructField("gram_hashes", T.ArrayType(T.LongType())),
    T.StructField("first_hashes", T.ArrayType(T.LongType())),
    T.StructField("n_tokens", T.ArrayType(T.ByteType())),
])


def _surface_rows(max_n: int):
    """mapInArrow kernel over gazetteer rows: each entry's distinct
    normalized surfaces (name, asciiname, each alternatename) of 1..max_n
    tokens with their probe keys, as ``build_surface_forms`` derives
    them, plus the entry fields scoring and output read."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(_ROWS)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            col = rb.to_pydict()
            surfs, grams, firsts, ntoks = [], [], [], []
            for name, ascii_, alts in zip(col["name"], col["asciiname"],
                                          col["alternatenames"]):
                seen: dict[str, tuple] = {}
                for raw in (name, ascii_, *(alts or "").split(",")):
                    s = normalize(raw) if raw is not None else ""
                    if not s or s in seen:
                        continue
                    toks = s.split(" ")
                    if len(toks) <= max_n:
                        h = hash64(s)
                        seen[s] = (h, h if len(toks) == 1 else hash64(toks[0]),
                                   len(toks))
                surfs.append(list(seen))
                grams.append([v[0] for v in seen.values()])
                firsts.append([v[1] for v in seen.values()])
                ntoks.append([v[2] for v in seen.values()])
            fcodes = [_NULL_FC if fc is None else _FCODE.get(fc, 1)
                      for fc in col["feature_code"]]
            yield pa.RecordBatch.from_arrays(
                [rb.column("geonameid"), rb.column("name"),
                 rb.column("latitude"), rb.column("longitude"),
                 pa.array(fcodes, pa.int8()), rb.column("country_code"),
                 rb.column("admin1_code"), rb.column("population"),
                 pa.array(surfs, schema.field("surfaces").type),
                 pa.array(grams, schema.field("gram_hashes").type),
                 pa.array(firsts, schema.field("first_hashes").type),
                 pa.array(ntoks, schema.field("n_tokens").type)],
                schema=schema)

    return kernel


def _utf8(arr) -> tuple[np.ndarray, np.ndarray]:
    """String array -> (int64 offsets[n+1], uint8 blob)."""
    import pyarrow as pa

    arr = arr.cast(pa.large_string())
    if not len(arr):
        return np.zeros(1, np.int64), np.zeros(0, np.uint8)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int64)[arr.offset:arr.offset + len(arr) + 1]
    data = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
            else np.zeros(0, np.uint8))
    return off - off[0], data[off[0]:off[-1]].copy()


def _codes(arr) -> np.ndarray:
    """Dictionary-code a string column; NULL -> -1."""
    import pyarrow.compute as pc

    idx = pc.dictionary_encode(arr).indices
    return pc.fill_null(idx, -1).to_numpy().astype(np.int32)


def _build_arrays(gazetteer: DataFrame, max_n: int = MAX_NGRAM) -> dict[str, np.ndarray]:
    """One Arrow pass over the gazetteer (one Spark job) -> the index
    arrays.  Entries with a NULL geonameid are skipped.  Of two entries
    with the same geonameid under one surface, the first in scan order
    is kept (``build_surface_forms`` drops (surface, geonameid)
    duplicates too).  The driver collects one Arrow row per entry:
    1.3 GB at 12M synthetic entries, which is why ``get_spark`` raises
    ``spark.driver.maxResultSize`` from its 1g default to 4g."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = (
        gazetteer.where("geonameid IS NOT NULL")
        .select("geonameid", "name", "asciiname", "alternatenames",
                "latitude", "longitude", "feature_code", "country_code",
                "admin1_code", "population")
        .mapInArrow(_surface_rows(max_n), _ROWS)
        .toArrow()
    )
    rows = {n: rows.column(n).combine_chunks() for n in rows.column_names}
    n_ent = len(rows["geonameid"])
    gid = rows["geonameid"].to_numpy()
    a1_key = pc.binary_join_element_wise(
        rows["country_code"], rows["admin1_code"], "|")
    flat = rows["surfaces"].flatten()
    ent_of = np.repeat(np.arange(n_ent, dtype=np.int32),
                       pc.list_value_length(rows["surfaces"]).to_numpy())
    gram_h = rows["gram_hashes"].flatten().to_numpy()
    first_h = rows["first_hashes"].flatten().to_numpy()
    ntok = rows["n_tokens"].flatten().to_numpy()

    # distinct surfaces, renumbered in gram-hash order
    enc = pc.dictionary_encode(flat)
    sid_raw = enc.indices.to_numpy()
    _, first_occ = np.unique(sid_raw, return_index=True)
    order = np.argsort(gram_h[first_occ], kind="stable")
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    surf_off, surf_blob = _utf8(enc.dictionary.take(pa.array(order)))

    # candidates: (surface, geonameid) pairs, first entry per pair kept
    sid = rank[sid_raw]
    o = np.lexsort((ent_of, gid[ent_of], sid))
    sid_s, ent_s = sid[o], ent_of[o]
    keep = np.ones(len(o), bool)
    keep[1:] = (sid_s[1:] != sid_s[:-1]) | (gid[ent_s[1:]] != gid[ent_s[:-1]])
    cand_off = np.zeros(len(order) + 1, np.int64)
    np.cumsum(np.bincount(sid_s[keep], minlength=len(order)), out=cand_off[1:])

    # first tokens, each with the longest surface it starts
    fo = first_occ[np.argsort(first_h[first_occ], kind="stable")]
    fh, fn = first_h[fo], ntok[fo]
    starts = np.flatnonzero(np.r_[True, fh[1:] != fh[:-1]]) if len(fh) else fo
    name_off, name_blob = _utf8(rows["name"])
    return {
        "first_hash": fh[starts],
        "first_maxn": (np.maximum.reduceat(fn, starts) if len(starts)
                       else np.zeros(0, np.int8)).astype(np.int8),
        "gram_hash": gram_h[first_occ][order],
        "surf_off": surf_off,
        "surf_blob": surf_blob,
        "cand_off": cand_off,
        "cand_ent": ent_s[keep].astype(np.int32),
        "geonameid": gid,
        "fcode": rows["fcode"].to_numpy(),
        "country": _codes(rows["country_code"]),
        "admin1": _codes(a1_key),
        "population": pc.fill_null(rows["population"], -1).to_numpy(),
        "latitude": rows["latitude"].to_numpy(zero_copy_only=False).astype(np.float64),
        "longitude": rows["longitude"].to_numpy(zero_copy_only=False).astype(np.float64),
        "name_off": name_off,
        "name_blob": name_blob,
        "name_valid": (rows["name"].is_valid().to_numpy(zero_copy_only=False)
                       .astype(np.bool_)),
    }


# ------------------------------------------------------- cache and ship

# Spark conf key: a driver-local directory where indexes persist across
# driver processes (``job.py run`` sets it under its output directory).
# Unset, an index lives in a temp dir removed when the driver exits.
INDEX_DIR_CONF = "spark.geoparser.gazetteerIndexDir"
# bump when the arrays or their meaning change: persisted indexes of an
# older format are then rebuilt, never misread
_FORMAT = 1


class IndexRef:
    """Where one built index lives: the driver-local ``.npy`` files and
    the names they were shipped under with ``addFile``.  Pickled into
    the tag kernel; workers open the shipped copies."""

    def __init__(self, prefix: str, paths: dict[str, str], max_n: int):
        self.prefix, self.paths, self.max_n = prefix, paths, max_n

    @property
    def nbytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.paths.values())

    def open(self) -> "SurfaceIndex":
        """The mmap'd index inside a worker (memoized per process)."""
        idx = _OPEN.get(self.prefix)
        if idx is None:
            from pyspark import SparkFiles

            idx = SurfaceIndex(
                {n: np.load(SparkFiles.get(os.path.basename(p)), mmap_mode="r")
                 for n, p in self.paths.items()}, self.max_n)
            _OPEN[self.prefix] = idx
        return idx


# Process-wide, because geotag()'s signature has no place for a handle:
# each worker's opened indexes, and the driver's builds with what it
# shipped to which application.
_OPEN: dict[str, "SurfaceIndex"] = {}
_BUILT: list[tuple] = []  # (gazetteer DataFrame, max_n, input file stats, IndexRef)
_SHIPPED: set[tuple[str, str]] = set()  # (application id, index prefix)


@functools.cache
def _temp_dir() -> str:
    path = tempfile.mkdtemp(prefix="geoparser-gazidx-")
    atexit.register(shutil.rmtree, path, True)
    return path


def _input_stats(df: DataFrame) -> tuple:
    """(path, size, mtime) of every file the gazetteer reads."""
    spark = df.sparkSession
    conf = spark._jsc.hadoopConfiguration()
    stats = []
    for f in sorted(df.inputFiles()):
        p = spark._jvm.org.apache.hadoop.fs.Path(f)
        st = p.getFileSystem(conf).getFileStatus(p)
        stats.append((f, st.getLen(), st.getModificationTime()))
    return tuple(stats)


def _persist_key(df: DataFrame, max_n: int, stats: tuple) -> str | None:
    """A key that names ``df``'s index in any driver process: a digest
    of the index format, max_n, the input files' stats, the schema and
    the canonical analyzed plan (expression ids normalized, stable
    across processes).  None when some leaf of the plan is not a file
    scan (in-memory rows, RDDs): their content is not in the plan
    string, so such an index is kept in-process only."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    if not stats or any(leaves.apply(i).getClass().getSimpleName() != "LogicalRelation"
                        for i in range(leaves.length())):
        return None
    h = hashlib.blake2b(digest_size=12)
    for part in (_FORMAT, max_n, stats, df.schema.json(),
                 plan.canonicalized().toString()):
        h.update(repr(part).encode("utf-8"))
    return h.hexdigest()


def _save(arrays: dict[str, np.ndarray], directory: str, prefix: str) -> dict[str, str]:
    """Write the arrays into a fresh ``directory`` (rename into place, so
    a directory that exists holds a whole index); if another driver got
    there first, keep its files.  -> {array name: path}."""
    tmp = f"{directory}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    for name, arr in arrays.items():
        np.save(os.path.join(tmp, f"{prefix}-{name}.npy"), arr)
    try:
        os.rename(tmp, directory)
    except OSError:
        shutil.rmtree(tmp, True)
    return {name: os.path.join(directory, f"{prefix}-{name}.npy") for name in arrays}


def _stored(directory: str, prefix: str) -> dict[str, str] | None:
    """{array name: path} of an index saved by ``_save``, or None."""
    if not os.path.isdir(directory):
        return None
    head = f"{prefix}-"
    return {f[len(head):-len(".npy")]: os.path.join(directory, f)
            for f in sorted(os.listdir(directory))
            if f.startswith(head) and f.endswith(".npy")}


def shipped_index(gazetteer: DataFrame, max_n: int = MAX_NGRAM) -> IndexRef:
    """The index of ``gazetteer``, built on first use and shipped once
    per Spark application.  In one process a build is reused while the
    gazetteer plan is semantically the same and its input files keep
    their sizes and mtimes.  With ``INDEX_DIR_CONF`` set, an index of a
    file-scan gazetteer is also saved there under ``_persist_key`` and
    reused by later driver processes; any change to the plan or the
    files gives a new key and a new build."""
    stats = _input_stats(gazetteer)
    ref = next((r for df, n, st, r in _BUILT
                if n == max_n and st == stats and gazetteer.sameSemantics(df)),
               None)
    if ref is None:
        spark = gazetteer.sparkSession
        root = spark.conf.get(INDEX_DIR_CONF, None)
        key = _persist_key(gazetteer, max_n, stats) if root else None
        if key is None:
            prefix = f"gazidx-{uuid.uuid4().hex[:12]}"
            directory = os.path.join(_temp_dir(), prefix)
        else:
            prefix = f"gazidx-{key}"
            directory = os.path.join(root, prefix)
            os.makedirs(root, exist_ok=True)
        paths = _stored(directory, prefix)
        if paths is None:
            paths = _save(_build_arrays(gazetteer, max_n), directory, prefix)
        ref = IndexRef(prefix, paths, max_n)
        _BUILT.append((gazetteer, max_n, stats, ref))
    sc = gazetteer.sparkSession.sparkContext
    if (sc.applicationId, ref.prefix) not in _SHIPPED:
        for p in ref.paths.values():
            sc.addFile(p)
        _SHIPPED.add((sc.applicationId, ref.prefix))
    return ref


# ----------------------------------------------------------------- tag

class SurfaceIndex:
    """The tagger over one opened index.  ``tag`` follows geotag.py's
    documented semantics exactly.  Each document's distinct tokens and
    n-grams are probed once, with one vectorized ``searchsorted`` per
    kind."""

    def __init__(self, arrays: dict[str, np.ndarray], max_n: int):
        # plain ndarray views of the memmaps: np.memmap's own indexing
        # costs several times a plain gather
        self.a = {k: v.view(np.ndarray) for k, v in arrays.items()}
        self.max_n = max_n

    def _first_maxn(self, toks: list[str]) -> list[int]:
        """Distinct tokens -> the longest surface (tokens) each starts,
        0 for none."""
        fh = self.a["first_hash"]
        if not len(fh):
            return [0] * len(toks)
        keys = np.fromiter((hash64(t) for t in toks), np.int64, len(toks))
        at = np.minimum(np.searchsorted(fh, keys), len(fh) - 1)
        return np.where(fh[at] == keys, self.a["first_maxn"][at], 0).tolist()

    def _surface_ids(self, grams: list[str]) -> list[int]:
        """Distinct n-grams -> surface id, -1 for none.  A hash hit is
        checked against the surface text, so a 64-bit collision cannot
        match."""
        gh, off, blob = self.a["gram_hash"], self.a["surf_off"], self.a["surf_blob"]
        keys = np.fromiter((hash64(g) for g in grams), np.int64, len(grams))
        at = np.searchsorted(gh, keys).tolist()
        out = []
        for g, k, i in zip(grams, keys.tolist(), at):
            sid, want = -1, None
            while i < len(gh) and gh[i] == k:
                want = want or g.encode("utf-8")
                if blob[off[i]:off[i + 1]].tobytes() == want:
                    sid = i
                    break
                i += 1
            out.append(sid)
        return out

    def _cands(self, sids: list[int]) -> dict[int, list[tuple]]:
        """Distinct surface ids -> their candidates: (entry, geonameid,
        class code, country, admin1 key, class weight,
        log10(population + 1) / 10), the last None for a NULL or
        negative population, whose JVM log10 is NULL.  One gather per
        field for the whole document."""
        a, off = self.a, self.a["cand_off"]
        ids = np.asarray(sids, np.int64)
        lo, cnt = off[ids], off[ids + 1] - off[ids]
        e = a["cand_ent"][np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
                          + np.arange(cnt.sum())]
        codes = a["fcode"][e].tolist()
        rows = list(zip(
            e.tolist(), a["geonameid"][e].tolist(), codes,
            a["country"][e].tolist(), a["admin1"][e].tolist(),
            [_WEIGHT[c] for c in codes],
            [math.log10(p + 1) / 10.0 if p >= 0 else None
             for p in a["population"][e].tolist()]))
        out, k = {}, 0
        for sid, c in zip(sids, cnt.tolist()):
            out[sid], k = rows[k:k + c], k + c
        return out

    def _location(self, e: int) -> tuple:
        a = self.a
        name = (a["name_blob"][a["name_off"][e]:a["name_off"][e + 1]].tobytes()
                .decode("utf-8") if a["name_valid"][e] else None)
        lat, lon = float(a["latitude"][e]), float(a["longitude"][e])
        return (name, None if math.isnan(lat) else lat,
                None if math.isnan(lon) else lon)

    def matches(self, text: str) -> list[tuple[int, int, int]]:
        """(pos, n, surface id) of every surface n-gram of ``text``,
        in (pos, n) order, before longest-match."""
        toks = normalize(text).split(" ")
        uniq = list(dict.fromkeys(toks))
        maxn = dict(zip(uniq, self._first_maxn(uniq)))
        spans = [(i, n) for i, t in enumerate(toks)
                 for n in range(1, min(maxn[t], len(toks) - i) + 1)]
        grams = [" ".join(toks[i:i + n]) for i, n in spans]
        ug = list(dict.fromkeys(grams))
        sid_of = dict(zip(ug, self._surface_ids(ug)))
        return [(i, n, sid_of[g]) for (i, n), g in zip(spans, grams)
                if sid_of[g] >= 0]

    def tag(self, text: str) -> list[tuple]:
        """text -> [(name, latitude, longitude, geonameid, is_primary,
        score)] in rank order; [] without a mention."""
        spans = self.matches(text)
        # longest-match-wins: drop a span contained in a strictly longer
        # one, which can only start at the same position or up to
        # max_n-1 positions before it
        end_at: dict[int, int] = {}
        for i, n, _ in spans:
            end_at[i] = max(end_at.get(i, 0), i + n)
        kept = [(i, sid) for i, n, sid in spans
                if end_at[i] == i + n
                and all(end_at.get(j, 0) < i + n
                        for j in range(max(0, i - self.max_n + 1), i))]
        # co-mention sets over every candidate of every kept mention
        cands = self._cands(list(dict.fromkeys(sid for _, sid in kept)))
        cc, a1 = set(), set()
        for cs in cands.values():
            for _, _, code, c, a, _, _ in cs:
                if code == _PCLI and c >= 0:
                    cc.add(c)
                elif code == _ADM1 and a >= 0:
                    a1.add(a)
        # winner per mention by (score DESC NULLS LAST, geonameid ASC)
        per_gid: dict[int, list] = {}
        for _, sid in kept:
            best = None
            for e, gid, code, c, a, w, lp in cands[sid]:
                score = None if lp is None else (
                    (3.0 if c in cc else 0.0)
                    + (2.0 if code not in (_NULL_FC, _ADM1) and a in a1 else 0.0)
                    + w + lp)
                key = (score is None, -(score or 0.0), gid)
                if best is None or key < best[0]:
                    best = (key, e, score)
            (_, _, gid), e, score = best
            ent = per_gid.setdefault(gid, [e, 0, None])
            ent[1] += 1
            if score is not None and (ent[2] is None or score > ent[2]):
                ent[2] = score
        # primary: most mentions, then name (NULLs first), then geonameid
        ranked = []
        for gid, (e, count, score) in per_gid.items():
            name, lat, lon = self._location(e)
            ranked.append(((-count, name is not None, name or "", gid),
                           (name, lat, lon, gid, score)))
        ranked.sort(key=lambda r: r[0])
        return [(name, lat, lon, gid, k == 0, score)
                for k, (_, (name, lat, lon, gid, score)) in enumerate(ranked)]


def _tag_batches(ref: IndexRef):
    """mapInArrow kernel: (doc_id, text) batches -> GEOTAGGED batches,
    docs without a mention dropped."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(GEOTAGGED)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        index = ref.open()
        for rb in batches:
            ids, locs = [], []
            for doc_id, text in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                got = index.tag(text) if text is not None else None
                if got:
                    ids.append(doc_id)
                    locs.append(got)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.string()),
                 pa.array(locs, schema.field("locations").type)],
                schema=schema)

    return kernel


def tag_texts(texts: DataFrame, gazetteer: DataFrame,
              max_n: int = MAX_NGRAM) -> DataFrame:
    """(doc_id, text) -> GEOTAGGED(doc_id, locations) in one mapInArrow
    stage over the shipped index.  The ``rebalance`` hint lets AQE
    size the output partitions, so a small run writes one file."""
    ref = shipped_index(gazetteer, max_n)
    return (texts.select("doc_id", "text")
            .mapInArrow(_tag_batches(ref), GEOTAGGED)
            .hint("rebalance"))
