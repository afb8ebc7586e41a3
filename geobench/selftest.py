"""Self-test of the batch output checker: one injected wrong span and one
injected wrong location must each be counted as a failed document.

    python3 geobench/selftest.py

Pure Python (no Spark): it writes a small correct batch output with
pyarrow, checks it with the checker ``crawl_mixed`` runs on every batch,
then corrupts it twice.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if __name__ == "__main__":
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from geobench import inputs  # noqa: E402


def _write(out: str, golden: dict, tagged: dict) -> None:
    """A batch output directory as the ingest writes it."""
    shutil.rmtree(out, ignore_errors=True)
    inputs.write_parquet(
        [{"doc_id": d, "spans": [{"kind": k, "text": t, "media_ref": m, "order": i}
                                 for i, (k, t, m) in enumerate(s)]}
         for d, s in golden.items()],
        inputs.EXTRACTED_SCHEMA, os.path.join(out, "extracted"), 1)
    inputs.write_parquet(
        [{"doc_id": d, "locations": [dict(zip(
            ("name", "latitude", "longitude", "geonameid", "is_primary", "score"),
            loc)) for loc in locs]} for d, locs in tagged.items()],
        inputs.GEOTAGGED_SCHEMA, os.path.join(out, "geotagged"), 1)
    os.makedirs(os.path.join(out, "manifest"))
    pq.write_table(pa.table({"rows_out": [len(golden)]}),
                   os.path.join(out, "manifest", "part-0.parquet"))


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def selftest(work: str) -> None:
    """Raise AssertionError unless the crawl_mixed checker passes a
    correct batch and counts each injected error once."""
    from geobench.reference import GeotagReference
    from geobench.run import Bench
    from geobench.workloads import CrawlMixed
    from geoparser_spark.testing.gazetteer import write_geonames_tsv

    bench = Bench("crawl_mixed", 0, 0, False, work)
    w = CrawlMixed(bench)
    w.n_docs = 6
    w.golden, _ = inputs.crawl_corpus(7, w.n_docs, os.path.join(work, "docs"), 1,
                                      mega_every=0, mega_factor=1)
    gaz = os.path.join(work, "gazetteer.tsv")
    write_geonames_tsv(gaz)
    w.expected = GeotagReference(inputs.read_gazetteer_tsv(gaz)).tag_corpus(w.golden)
    _require(bool(w.expected), "the self-test corpus must mention a place")
    out = os.path.join(work, "out")

    def failed_after(golden: dict, tagged: dict) -> int:
        before = bench.failed
        _write(out, golden, tagged)
        w.check(out)
        return bench.failed - before

    _require(failed_after(w.golden, w.expected) == 0, "a correct batch was counted as failed")

    doc = next(d for d, s in w.golden.items() if s)
    kind, text, ref = w.golden[doc][0]
    wrong_span = {**w.golden, doc: [(kind, (text or "") + " x", ref), *w.golden[doc][1:]]}
    _require(failed_after(wrong_span, w.expected) == 1, "a wrong span was not counted")

    doc = next(iter(w.expected))
    loc = w.expected[doc][0]
    wrong_loc = {**w.expected, doc: [(loc[0], loc[1] + 1.0, *loc[2:]), *w.expected[doc][1:]]}
    _require(failed_after(w.golden, wrong_loc) == 1, "a wrong location was not counted")


def main() -> int:
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    try:
        selftest(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest ok: an injected wrong span and a wrong location are counted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
