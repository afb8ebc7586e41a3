"""Independent pure-Python references and the output checkers that feed
``error_rate``.

The geotag reference re-derives the engine's documented semantics
(surface forms, n-gram match, longest-match-wins, admin-hierarchy
scoring, primary pick; see ``operators/geotag.py``) from the gazetteer
rows alone, with dictionaries instead of joins and windows.  The serve
references evaluate each read against in-driver copies of the tables.
Scores may differ from the engine's in the last bits (JVM ``log10`` vs
libm), so they are compared with a relative tolerance.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

MAX_NGRAM = 5
SCORE_RTOL = 1e-9
_CLASS_WEIGHTS = {"PCLI": 5.0, "ADM1": 4.0, "PPLC": 3.5, "PPLA": 3.0,
                  "PPLA2": 2.5, "PPL": 2.0}
_NON_ALNUM = re.compile(r"[\W_]+")
EARTH_RADIUS_KM = 6371.0088


def normalize(s: str) -> str:
    return _NON_ALNUM.sub(" ", s).lower().strip()


def doc_text(spans: list[tuple]) -> str:
    """The tagged text of a doc: its text spans joined in order."""
    return " ".join(t for k, t, _ in spans if k == "text" and t is not None)


class GeotagReference:
    """Dictionary-based tagger over a gazetteer row list."""

    def __init__(self, gazetteer: list[dict], max_n: int = MAX_NGRAM):
        self.max_n = max_n
        self.surfaces: dict[tuple, list[dict]] = defaultdict(list)
        seen = set()
        for r in gazetteer:
            raw = [r["name"], r["asciiname"],
                   *(r["alternatenames"] or "").split(",")]
            for s in raw:
                surf = normalize(s) if s else ""
                toks = tuple(surf.split(" "))
                if not surf or len(toks) > max_n or (surf, r["geonameid"]) in seen:
                    continue
                seen.add((surf, r["geonameid"]))
                self.surfaces[toks].append(r)

    def tag(self, text: str) -> list[tuple]:
        """text -> [(name, latitude, longitude, geonameid, is_primary,
        score)] in rank order."""
        toks = normalize(text).split(" ")
        cands = []  # (pos, n, row)
        for i in range(len(toks)):
            for n in range(1, min(self.max_n, len(toks) - i) + 1):
                for r in self.surfaces.get(tuple(toks[i:i + n]), ()):
                    cands.append((i, n, r))
        spans = {(p, n) for p, n, _ in cands}
        kept = [(p, n, r) for p, n, r in cands
                if not any(n2 > n and p2 <= p and p2 + n2 >= p + n
                           for p2, n2 in spans)]
        cc = {r["country_code"] for _, _, r in kept
              if r["feature_code"] == "PCLI" and r["country_code"] is not None}
        a1 = {(r["country_code"], r["admin1_code"]) for _, _, r in kept
              if r["feature_code"] == "ADM1" and r["country_code"] is not None
              and r["admin1_code"] is not None}
        best: dict[int, tuple] = {}
        for p, _, r in kept:
            fc = r["feature_code"]
            score = ((3.0 if r["country_code"] in cc else 0.0)
                     + (2.0 if fc is not None and fc != "ADM1"
                        and (r["country_code"], r["admin1_code"]) in a1
                        else 0.0)
                     + _CLASS_WEIGHTS.get(fc, 1.0)
                     + math.log10(r["population"] + 1) / 10.0)
            key = (-score, r["geonameid"])
            if p not in best or key < best[p][0]:
                best[p] = (key, r)
        entities: dict[int, list] = {}
        for (neg_score, _), r in best.values():
            e = entities.setdefault(r["geonameid"], [r, 0, -math.inf])
            e[1] += 1
            e[2] = max(e[2], -neg_score)
        ranked = sorted(entities.values(),
                        key=lambda e: (-e[1], e[0]["name"], e[0]["geonameid"]))
        return [(r["name"], r["latitude"], r["longitude"], r["geonameid"],
                 i == 0, score) for i, (r, _, score) in enumerate(ranked)]

    def tag_corpus(self, golden: dict[str, list]) -> dict[str, list]:
        """doc_id -> locations for every doc with at least one mention
        (the engine drops docs without one)."""
        out = {}
        for doc_id, spans in golden.items():
            locs = self.tag(doc_text(spans))
            if locs:
                out[doc_id] = locs
        return out


# ------------------------------------------------------------ checkers

def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(1.0, abs(b))


def extract_errors(actual: dict[str, list], golden: dict[str, list]
                   ) -> tuple[set, int]:
    """Docs whose extracted spans differ from the golden sequence under
    span-sequence equality (kind, text, media_ref, order), plus the
    number of golden spans missing from the output."""
    wrong = set(actual) ^ set(golden)
    missing = sum(len(golden[d]) for d in set(golden) - set(actual))
    for doc_id in set(actual) & set(golden):
        got, want = actual[doc_id], golden[doc_id]
        seq = [(s["kind"], s["text"], s["media_ref"]) for s in got]
        if seq != want or [s["order"] for s in got] != list(range(len(got))):
            wrong.add(doc_id)
            missing += sum((Counter(want) - Counter(seq)).values())
    return wrong, missing


def locations_equal(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        g[:5] == w[:5] and _close(g[5], w[5]) for g, w in zip(got, want))


def geotag_errors(actual: dict[str, list], expected: dict[str, list]) -> set:
    """Docs whose location list differs from the reference tagger's."""
    wrong = set(actual) ^ set(expected)
    for doc_id in set(actual) & set(expected):
        if not locations_equal(actual[doc_id], expected[doc_id]):
            wrong.add(doc_id)
    return wrong


# -------------------------------------------------------- serve reference

def haversine_km(lat1, lon1, lat2, lon2) -> float:
    rlat1, rlon1 = math.radians(lat1), math.radians(lon1)
    rlat2, rlon2 = math.radians(lat2), math.radians(lon2)
    h = (math.sin((rlat2 - rlat1) / 2) ** 2
         + math.cos(rlat1) * math.cos(rlat2) * math.sin((rlon2 - rlon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(min(h, 1.0)))


class ServeReference:
    """In-driver copies of the served tables and each read's answer."""

    def __init__(self, geotagged: dict[str, list], texts: dict[str, str]):
        self.geotagged = geotagged
        self.texts = texts
        # points(): one row per (doc, location)
        self.points = [(d, loc[0], loc[1], loc[2], loc[3], loc[4])
                       for d, locs in geotagged.items() for loc in locs]
        self.tokens = {d: normalize(t).split(" ") for d, t in texts.items()}
        # the keywords and bm25 terms the client draws from
        self.vocab = sorted({w for t in texts.values() for w in t.lower().split()
                             if w.isalpha()})
        self.tiles: list[tuple] = []
        self.extents: list[tuple] = []

    def point_lookup(self, doc_id):
        return [(doc_id, self.geotagged[doc_id])] if doc_id in self.geotagged else []

    def search_points(self, keyword):
        kw = keyword.lower()
        hits = {d for d, t in self.texts.items() if kw in t.lower()}
        return sorted(p for p in self.points if p[0] in hits)

    def radius_search(self, lat, lon, radius_km):
        """(sure, possible): rows certainly inside, and rows within
        rounding distance of the boundary that either side may keep."""
        sure, edge = set(), set()
        for p in self.points:
            if abs(p[2] - lat) > radius_km / 111.0:
                continue
            d = haversine_km(lat, lon, p[2], p[3])
            if d <= radius_km - 2e-6:
                sure.add(p)
            elif d <= radius_km + 2e-6:
                edge.add(p)
        return sure, edge

    def viewport_tiles(self, min_lat, max_lat, min_lon, max_lon):
        hit = {(e[0], e[1]) for e in self.extents
               if e[2] <= max_lat and e[3] >= min_lat
               and e[4] <= max_lon and e[5] >= min_lon}
        return sorted(t for t in self.tiles if (t[0], t[1]) in hit)

    def facet_counts(self):
        return sorted(Counter(p[1] for p in self.points).items())

    def bm25_topk(self, terms, k=10, k1=1.2, b=0.75):
        n = len(self.tokens)
        avgdl = sum(len(t) for t in self.tokens.values()) / n
        tfs = {d: [t.count(term) for term in terms] for d, t in self.tokens.items()}
        df = [sum(1 for tf in tfs.values() if tf[j] > 0) for j in range(len(terms))]
        idf = [math.log(1.0 + (n - df[j] + 0.5) / (df[j] + 0.5))
               for j in range(len(terms))]
        scored = []
        for d, tf in tfs.items():
            if not any(tf):
                continue
            dl = float(len(self.tokens[d]))
            score = None
            for j in range(len(terms)):
                t = float(tf[j])
                s = idf[j] * (t * (k1 + 1.0)) / (t + k1 * ((1.0 - b) + b * (dl / avgdl)))
                score = s if score is None else score + s
            scored.append((d, score))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]
