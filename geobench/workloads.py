"""The two workloads: ``crawl_mixed`` and ``map_serve``.

Each runs GeoParser's two surfaces in turn: a batch job that writes,
each time into a fresh output directory, then one closed-loop map client
that reads what the last batch wrote.  They differ in which layers the
batch loads:

* ``crawl_mixed``: the batch is the ingest of ``job.py run`` on a
  crawled-index format mix with mega documents; extract and the mega-doc
  runtime do most of the work.  Its client reads the batch back: one
  ``point_lookup`` per read, of an ingested document drawn uniformly.
* ``map_serve``: the batch is the khooshe tile regeneration of a
  geotagged corpus written before the timed window; extract and geotag
  do no work.

Each workload has four phases, driven by ``run.py``:

* ``warm_inputs``  the seeded inputs the warm-up runs on (untimed);
* ``prepare``      the set-up that ``setup_s`` times together with the
                   session start: gazetteer write and a warm-up pass of
                   every plan shape;
* ``generate``     the seeded corpus and its reference answers (untimed);
* ``measure``      the timed window; returns the end-to-end metrics.

Every call into the program goes through the public functions that
``job.py run`` composes, each wrapped in a layer span (a no-op unless
the run is traced).
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq

from geobench import inputs
from geobench.reference import (
    GeotagReference,
    ServeReference,
    doc_text,
    extract_errors,
    geotag_errors,
    haversine_km,
    locations_equal,
)
from geobench.spans import merge_stats, task_skew

N_LOGICAL_PARTS = 16   # job.py run --n-logical-parts, as in the run recipe
MIN_QUERIES = 60       # per run, unless a workload sets min_reads
WARM_READS = 7         # set-up reads (one map cycle), so the read path is JIT-compiled
# The map client's reads: each cycle issues every kind once, in seeded
# order, and viewport_tiles twice, since the map UI fetches tiles on
# every pan and zoom.  With six equal kinds the median would sit on the
# boundary between the third and fourth slowest kinds (the slowest read
# of one against the fastest of the other); with seven slots p50 falls
# inside the viewport_tiles reads and p90 inside the bm25_topk reads.
READS = ("search_points", "point_lookup", "radius_search", "viewport_tiles",
         "viewport_tiles", "facet_counts", "bm25_topk")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def _locations(row: dict) -> list[tuple]:
    return [(l["name"], l["latitude"], l["longitude"], l["geonameid"],
             l["is_primary"], l["score"]) for l in row["locations"]]


def corpus_reference(corpus: str) -> ServeReference:
    """A reference built from a corpus directory as written, not from
    independent answers: the warm-up reads draw their parameters from it,
    and their checks compare the serve layer with the engine's output."""
    geotagged = {r["doc_id"]: _locations(r)
                 for r in _read_rows(os.path.join(corpus, "geotagged"))}
    texts = {r["doc_id"]: doc_text([(s["kind"], s["text"], s["media_ref"])
                                    for s in sorted(r["spans"], key=lambda s: s["order"])])
             for r in _read_rows(os.path.join(corpus, "extracted"))}
    return ServeReference(geotagged, texts)


def build_tiles(bench, corpus: str, out: str) -> None:
    """The khooshe regeneration over ``corpus/geotagged`` into ``out``,
    as ``job.py run --tiles`` writes it."""
    from geoparser_spark.operators.geotag import points
    from geoparser_spark.operators.tiles import build_tile_pyramid, write_tiles

    with bench.tracer.span("tiles.build"):
        pts = points(bench.spark.read.parquet(os.path.join(corpus, "geotagged")))
        tiles, extents = build_tile_pyramid(
            pts.select("latitude", "longitude", pts["loc_name"].alias("info")))
        write_tiles(tiles, os.path.join(out, "tiles"))
        extents.write.mode("overwrite").parquet(os.path.join(out, "extents"))
    bench.spark.catalog.clearCache()


# ------------------------------------------------------------ map client

class MapClient:
    """One closed-loop client of checked map reads over a corpus
    directory (``extracted`` + ``geotagged``) and, if it has one, a tile
    directory."""

    def __init__(self, bench, ref: ServeReference, reads: tuple[str, ...]):
        self.b, self.ref, self.reads = bench, ref, reads
        self.lat: dict[str, list] = {q: [] for q in reads}
        self.levels = self.tile_rows = 0

    def check_tiles(self, tiles: str) -> bool:
        """Load the pyramid into the reference; every distinct point must
        sit in exactly one leaf tile."""
        ref = self.ref
        ref.tiles = [(t["level"], t["cluster_path"], t["latitude"], t["longitude"],
                      t["label"], t["info"], t["is_leaf"])
                     for t in _read_rows(os.path.join(tiles, "tiles"))]
        ref.extents = [(e["level"], e["cluster_path"], e["min_lat"], e["max_lat"],
                        e["min_lon"], e["max_lon"])
                       for e in _read_rows(os.path.join(tiles, "extents"))]
        self.levels = max(t[0] for t in ref.tiles)
        self.tile_rows = len(ref.tiles)
        leaves = sorted((t[2], t[3]) for t in ref.tiles if t[6])
        return leaves == sorted({(p[2], p[3]) for p in ref.points})

    def open(self, corpus: str, tiles: str | None) -> None:
        from geoparser_spark.operators.geotag import doc_texts, points

        spark = self.b.spark
        geotagged = spark.read.parquet(os.path.join(corpus, "geotagged"))
        self.t = {
            "geotagged": geotagged, "points": points(geotagged),
            "texts": doc_texts(spark.read.parquet(os.path.join(corpus, "extracted"))),
        }
        if tiles is not None:
            self.t.update(tiles=spark.read.parquet(os.path.join(tiles, "tiles")),
                          extents=spark.read.parquet(os.path.join(tiles, "extents")))

    def query(self, q: str, rng: random.Random):
        """One read with seeded parameters: (engine call, checker)."""
        from geoparser_spark.operators import serve
        from geoparser_spark.operators.tiles import facet_counts, viewport_tiles

        t, ref = self.t, self.ref
        p = rng.choice(ref.points)
        if q == "point_lookup":
            def run():
                return serve.point_lookup(t["geotagged"], p[0]).collect()

            def ok(rows):
                want = ref.point_lookup(p[0])
                return len(rows) == len(want) == 1 and locations_equal(
                    _locations(rows[0].asDict(True)), want[0][1])
        elif q == "search_points":
            kw = p[1]

            def run():
                return serve.search_points(t["texts"], t["points"], kw).collect()

            def ok(rows):
                return sorted(tuple(r) for r in rows) == ref.search_points(kw)
        elif q == "radius_search":
            r_km = rng.choice((25.0, 100.0, 400.0))

            def run():
                return serve.radius_search(t["points"], p[2], p[3], r_km).collect()

            def ok(rows):
                sure, edge = ref.radius_search(p[2], p[3], r_km)
                got = {tuple(r)[:6] for r in rows}
                return (len(got) == len(rows) and sure <= got <= sure | edge
                        and all(abs(r["dist_km"] - haversine_km(
                            p[2], p[3], r["latitude"], r["longitude"])) <= 2e-6
                            for r in rows))
        elif q == "viewport_tiles":
            h = rng.choice((2.0, 8.0, 30.0))
            box = (p[2] - h, p[2] + h, p[3] - h, p[3] + h)

            def run():
                return viewport_tiles(t["tiles"], t["extents"], *box).collect()

            def ok(rows):
                got = sorted((r["level"], r["cluster_path"], r["latitude"],
                              r["longitude"], r["label"], r["info"], r["is_leaf"])
                             for r in rows)
                return got == ref.viewport_tiles(*box)
        elif q == "facet_counts":
            def run():
                return facet_counts(t["points"]).collect()

            def ok(rows):
                return sorted(tuple(r) for r in rows) == ref.facet_counts()
        else:
            # a fixed term count: the cost of bm25_topk grows with it
            terms = sorted(rng.sample(ref.vocab, 2))

            def run():
                return serve.bm25_topk(t["texts"], terms).collect()

            def ok(rows):
                want = ref.bm25_topk(terms)
                return len(rows) == len(want) and all(
                    r["doc_id"] == d and abs(r["score"] - s) <= 1e-9 * max(1.0, abs(s))
                    for r, (d, s) in zip(rows, want))
        return run, ok

    def read(self, q: str, rng: random.Random) -> float:
        """Issue one read, collect and check it; returns its latency in ms."""
        b = self.b
        run, ok = self.query(q, rng)
        with b.tracer.span(f"serve.{q}") as s:
            t0 = time.perf_counter()
            try:
                rows, err = run(), None
            except Exception as e:  # noqa: BLE001 - a failed read is counted
                rows, err = None, f"{type(e).__name__}: {e}"
            ms = (time.perf_counter() - t0) * 1e3
        good = err is None and ok(rows)
        b.count(1, 0 if good else 1, err or (None if good else f"wrong {q}"))
        if s is not None:
            s["rows"] = len(rows) if rows is not None else 0
        self.lat[q].append(ms)
        return ms

    def serve(self, rng: random.Random, n: int) -> list[float]:
        """Closed loop of at least ``n`` reads, in whole cycles: each read
        is sent when the previous one has been collected.  Returns every
        latency in ms."""
        every = []
        while len(every) < n:
            every += [self.read(q, rng) for q in rng.sample(self.reads, len(self.reads))]
        return every

    def warm(self, corpus: str, tiles: str | None) -> None:
        """Cycles of every read kind, so each plan shape is compiled."""
        if tiles is not None:
            self.check_tiles(tiles)
        self.open(corpus, tiles)
        self.serve(random.Random(0), WARM_READS)


# ------------------------------------------------------------ workloads

class Workload:
    """Rounds of a batch job, each followed by the map client's reads of
    what it wrote."""

    name = ""
    n_docs = 0
    reads = READS
    rounds = 1   # batch_s is the median over at least this many batches
    min_reads = MIN_QUERIES

    def __init__(self, bench):
        self.b = bench
        self.iterations: list[dict] = []
        self.counts: dict = {}   # engine-side counts from probe()

    def warm_inputs(self) -> None: ...

    def prepare(self) -> None: ...

    def generate(self) -> None: ...

    def batch(self, out: str) -> None:
        """One run of the batch job, writing into the fresh ``out``."""

    def check(self, out: str) -> dict:
        """Checks one batch's output; returns its per-batch counts."""

    def corpus(self, out: str) -> str:
        """The corpus directory the map client reads after batch ``out``."""
        return out

    def tiles(self, out: str) -> str | None:
        """The tile directory the map client reads after batch ``out``."""
        return out

    def measure(self) -> dict:
        b = self.b
        rng = random.Random(f"reads:{b.seed}")
        walls, every = [], []
        start = time.perf_counter()
        while len(walls) < self.rounds or (time.perf_counter() - start < b.seconds
                                           and not b.past_deadline()):
            if walls:
                shutil.rmtree(out)
            out = os.path.join(b.work, f"batch-{len(walls)}")
            with b.tracer.span("batch") as root:
                t0 = time.perf_counter()
                self.batch(out)
                walls.append(time.perf_counter() - t0)
            self.iterations.append({"wall_s": walls[-1], "span": root,
                                    **self.check(out)})
            self.client.open(self.corpus(out), self.tiles(out))
            every += self.client.serve(rng, -(-self.min_reads // self.rounds))
        self.n_reads = len(every)
        return {"batch_s": statistics.median(walls),
                "query_p50_ms": statistics.median(every),
                "query_p90_ms": percentile(every, 0.9)}

    def probe(self) -> None:
        """Traced run only: engine-side counts after the timed window."""

    def layer_metrics(self, groups: dict, spans: list[dict]) -> dict:
        """Per-layer metrics: per-batch values are medians over batches."""
        selfs = self.b.tracer.self_times()
        per_batch = []
        for it in self.iterations:
            root = it["span"]
            kids = [s for s in spans if s["start"] >= root["start"]
                    and s["end"] <= root["end"] and s is not root]

            def self_s(name):
                return sum(selfs[s["id"]] for s in kids if s["name"] == name)

            def st(*names):
                return merge_stats([groups[s["group"]] for s in kids
                                    if s["name"] in names and s["group"] in groups])

            ex, rt, gt = st("extract"), st("runtime.resumable_stage"), st("geotag")
            everything = st(*{s["name"] for s in kids})
            per_batch.append({
                "trace.coverage": 1.0 - selfs[root["id"]] / (root["end"] - root["start"]),
                "sources.gazetteer_read_s": self_s("sources.gazetteer_read"),
                "sources.write_s": self_s("sources.write"),
                "sources.bytes_written": everything["output_bytes"],
                "extract.busy_s": self_s("extract"),
                "extract.task_cpu_s": ex["cpu_s"],
                "extract.spans_out": it.get("spans_out", 0),
                "extract.spans_degraded": it.get("spans_missing", 0),
                "runtime.shuffle_write_bytes": ex["shuffle_write_bytes"] + rt["shuffle_write_bytes"],
                "runtime.shuffle_read_bytes": ex["shuffle_read_bytes"] + rt["shuffle_read_bytes"],
                "runtime.task_skew": task_skew(ex["task_run_s"]),
                "runtime.resumable_write_s": self_s("runtime.resumable_stage"),
                "geotag.busy_s": self_s("geotag"),
                "geotag.task_cpu_s": gt["cpu_s"],
                "geotag.shuffle_write_bytes": gt["shuffle_write_bytes"],
                "geotag.spill_bytes": gt["spill_bytes"],
                "tiles.build_s": self_s("tiles.build"),
                "spark.gc_s": everything["gc_s"],
                "spark.tasks": everything["tasks"],
            })
        out = {k: statistics.median(d[k] for d in per_batch) for k in per_batch[0]}

        reads = [s for s in spans if s["name"].startswith("serve.")]
        rst = merge_stats([groups[s["group"]] for s in reads if s["group"] in groups])
        rows = sum(s.get("rows", 0) for s in reads)
        out.update({f"serve.{q}_ms": statistics.median(v) if v else 0.0
                    for q, v in self.client.lat.items()})
        out.update({
            "tiles.levels": self.client.levels,
            "tiles.rows_out": self.client.tile_rows,
            "sources.scan_bytes": rst["input_bytes"] / len(reads),
            "serve.jobs_per_query": rst["jobs"] / len(reads),
            "serve.rows_scanned_per_result": rst["input_records"] / max(rows, 1),
        })
        out.update(self.counts)
        return out


class CrawlMixed(Workload):
    """The ingest of ``job.py run`` as a timed loop over the
    crawled-index format mix with mega documents, tagged against the
    202-place fixture gazetteer: parquet docs ->
    resumable_stage(extract_with_skew_split) into a fresh directory ->
    geotag -> geotagged parquet.  Every batch's output is checked."""

    name = "crawl_mixed"
    n_docs = 400
    mega_every, mega_factor = 200, 100
    # read-after-write of the batch; the full read mix is map_serve's
    reads = ("point_lookup",)
    # a batch is cheaper than map_serve's: the median of three also drops
    # the first, slower one
    rounds = 3

    def warm_inputs(self) -> None:
        self.gaz = os.path.join(self.b.work, "gazetteer.tsv")
        self.warm_docs = os.path.join(self.b.work, "warm-docs")
        inputs.crawl_corpus(self.b.seed + 1_000_003, 8, self.warm_docs, 2,
                            mega_every=8, mega_factor=self.mega_factor)

    def prepare(self) -> None:
        from geoparser_spark.testing.gazetteer import write_geonames_tsv

        with self.b.tracer.span("sources.gazetteer_write"):
            write_geonames_tsv(self.gaz)
        warm = os.path.join(self.b.work, "warm")
        self.ingest(self.warm_docs, warm)
        MapClient(self.b, corpus_reference(warm), self.reads).warm(warm, None)

    def generate(self) -> None:
        b = self.b
        self.docs_dir = os.path.join(b.work, "docs")
        self.golden, self.spans_in = inputs.crawl_corpus(
            b.seed, self.n_docs, self.docs_dir, b.cpus * 4,
            self.mega_every, self.mega_factor)
        tagger = GeotagReference(inputs.read_gazetteer_tsv(self.gaz))
        self.expected = tagger.tag_corpus(self.golden)
        texts = {d: doc_text(s) for d, s in self.golden.items()}
        self.client = MapClient(b, ServeReference(self.expected, texts), self.reads)

    def ingest(self, docs_dir: str, out: str) -> None:
        from geoparser_spark.operators.extract import extract_with_skew_split
        from geoparser_spark.operators.geotag import geotag
        from geoparser_spark.plans.runtime import resumable_stage
        from geoparser_spark.sources.geonames import read_geonames_tsv

        b, tr = self.b, self.b.tracer
        spark = b.spark
        docs = spark.read.parquet(docs_dir)
        n_part = spark.sparkContext.defaultParallelism * 4

        def stage(df):
            ex = extract_with_skew_split(df, n_part)
            if tr.enabled:
                with tr.span("extract"):
                    ex = b.materialize(ex)
            return ex

        with tr.span("runtime.resumable_stage"):
            extracted = resumable_stage(
                spark, docs, stage,
                output_dir=os.path.join(out, "extracted"),
                manifest_dir=os.path.join(out, "manifest"),
                run_id=os.path.basename(out), n_parts=N_LOGICAL_PARTS)
        with tr.span("sources.gazetteer_read"):
            gaz = read_geonames_tsv(spark, self.gaz)
            if tr.enabled:
                gaz = b.materialize(gaz)
        with tr.span("geotag"):
            tagged = geotag(extracted, gaz, broadcast_surfaces="auto")
            if tr.enabled:
                tagged = b.materialize(tagged)
        with tr.span("sources.write"):
            tagged.write.mode("overwrite").parquet(os.path.join(out, "geotagged"))
        b.release()

    def batch(self, out: str) -> None:
        self.ingest(self.docs_dir, out)

    def tiles(self, out: str) -> str | None:
        return None

    def check(self, out: str) -> dict:
        """Extract vs golden spans, geotag vs the reference tagger, and
        manifest rows_out vs docs read."""
        extracted = {r["doc_id"]: r["spans"]
                     for r in _read_rows(os.path.join(out, "extracted"))}
        tagged = {r["doc_id"]: _locations(r)
                  for r in _read_rows(os.path.join(out, "geotagged"))}
        rows_out = sum(m["rows_out"] for m in _read_rows(os.path.join(out, "manifest")))
        wrong, missing = extract_errors(extracted, self.golden)
        wrong |= geotag_errors(tagged, self.expected)
        failed = min(self.n_docs, len(wrong) + abs(rows_out - self.n_docs))
        self.b.count(self.n_docs, failed, f"{failed} wrong docs in {out}")
        return {"spans_missing": missing,
                "spans_out": sum(len(s) for s in extracted.values())}

    def probe(self) -> None:
        """Count the engine's own geotag work on the last batch's
        extracted output, with the operators geotag() composes:
        candidates before longest-match (one probe per n-gram length,
        where no match can contain another), kept after it, and
        resolved mentions."""
        from pyspark.sql import functions as F

        from geoparser_spark.operators.geotag import (
            MAX_NGRAM,
            build_surface_forms,
            candidate_mentions,
            doc_texts,
            normalize_text,
            resolve_mentions,
        )
        from geoparser_spark.plans.runtime import split_mega_docs
        from geoparser_spark.sources.geonames import read_geonames_tsv

        b = self.b
        spark = b.spark
        out = os.path.join(b.work, f"batch-{len(self.iterations) - 1}")
        with b.tracer.span("geotag.surface_build") as s:
            surfaces = b.materialize(build_surface_forms(read_geonames_tsv(spark, self.gaz)))
        texts = b.materialize(doc_texts(spark.read.parquet(os.path.join(out, "extracted"))))
        kept = b.materialize(candidate_mentions(texts, surfaces, broadcast_surfaces="auto"))
        candidates = sum(
            candidate_mentions(texts, surfaces.where(F.col("n_tokens") == n), max_n=n,
                               broadcast_surfaces="auto").count()
            for n in range(1, MAX_NGRAM + 1))
        positions = texts.select(
            F.sum(F.size(F.split(normalize_text(F.col("text")), " ")))).first()[0]
        docs = spark.read.parquet(self.docs_dir)
        n_kept = kept.count()
        self.counts = {
            "extract.spans_in": self.spans_in,
            "runtime.mega_chunks": split_mega_docs(docs.where(F.size("spans") > 64)).count(),
            "geotag.surfaces": surfaces.count(),
            "geotag.surface_build_s": s["end"] - s["start"],
            "geotag.token_positions": positions,
            "geotag.candidates": candidates,
            "geotag.kept": n_kept,
            "geotag.keep_ratio": n_kept / candidates if candidates else 0.0,
            "geotag.resolved": resolve_mentions(kept).count(),
        }
        b.release()


class MapServe(Workload):
    """Re-tile a geotagged corpus written once before the timed window,
    as the periodic khooshe regeneration does, then serve the map reads
    over it."""

    name = "map_serve"
    n_docs = 500
    n_places = 20_000
    n_mentioned = 400
    # one re-tiling is a chain of ~125 short stages: batch_s is the
    # median (mean) of two, after the cold build of set-up
    rounds = 2
    min_reads = 56

    def _corpus(self, seed: int, n_docs: int, out: str) -> ServeReference:
        """Write the corpus the ingest would write: extracted spans and
        the reference tagger's locations (crawl_mixed checks that the
        engine writes exactly these for its corpus)."""
        docs = inputs.text_docs(seed, n_docs, self.names)
        golden = inputs.text_golden(docs)
        tagged = self.tagger.tag_corpus(golden)
        inputs.write_parquet(
            [{"doc_id": d, "spans": [{"kind": k, "text": t, "media_ref": m,
                                      "order": i} for i, (k, t, m) in enumerate(s)]}
             for d, s in golden.items()],
            inputs.EXTRACTED_SCHEMA, os.path.join(out, "extracted"), 4)
        inputs.write_parquet(
            [{"doc_id": d, "locations": [dict(zip(
                ("name", "latitude", "longitude", "geonameid", "is_primary",
                 "score"), loc)) for loc in locs]} for d, locs in tagged.items()],
            inputs.GEOTAGGED_SCHEMA, os.path.join(out, "geotagged"), 4)
        return ServeReference(tagged, {d: doc_text(s) for d, s in golden.items()})

    def warm_inputs(self) -> None:
        from geoparser_spark.testing.gazetteer import gazetteer_rows

        places = gazetteer_rows() + inputs.synthetic_places(self.n_places)
        rng = random.Random(f"places:{self.b.seed}")
        self.tagger = GeotagReference(places)
        self.names = [p["name"] for p in rng.sample(places, self.n_mentioned)]
        # the corpus is what the ingest wrote before the server started:
        # the warm-up tiles and reads run on it, as a restarted server's do
        self.src = os.path.join(self.b.work, "corpus")
        self.ref = self._corpus(self.b.seed, self.n_docs, self.src)

    def prepare(self) -> None:
        tiles = os.path.join(self.b.work, "warm-tiles")
        build_tiles(self.b, self.src, tiles)
        MapClient(self.b, self.ref, self.reads).warm(self.src, tiles)

    def generate(self) -> None:
        self.client = MapClient(self.b, self.ref, self.reads)

    def corpus(self, out: str) -> str:
        return self.src

    def batch(self, out: str) -> None:
        build_tiles(self.b, self.src, out)

    def check(self, out: str) -> dict:
        ok = self.client.check_tiles(out)
        self.b.count(1, 0 if ok else 1, f"wrong tile pyramid in {out}")
        return {}


WORKLOADS = {w.name: w for w in (CrawlMixed, MapServe)}
