"""Seeded input generator for the end-to-end benchmark.

Everything the benchmark feeds the engine comes from here, derived only
from the seed, and everything it checks the engine's output against is
computed here too, from the same draws (the "truth"). Nothing is read
from or written to a shared test-data directory: callers pass a fresh
temporary directory.

Weather (daily_load): one directory per load batch with
OpenWeatherMap-shaped documents, as
  readings/part-*.jsonl  one API document per line (the day's readings)
  poll/<name>.json       single current-conditions documents, fetched
                         one city per task through the graft-weather
                         source; the poll list also names cities that
                         have no file, which the source skips and counts.
Shares per raw reading (stated, not tuned to the engine):
  IN_HOUR_DUP   later second reading of the same city and hour
  NULL_WIND     wind object missing
  NULL_VIS      visibility missing
  NULL_CRIT     temperature null (dropped by the pipeline)
  OUT_OF_RANGE  temperature or pressure outside the validation bounds
  LATE_FIX      correction of one of yesterday's stored readings

Corpus (corpus_dedup): a standing corpus and incoming batches of
documents with 64-d embeddings, shaped like tools/gen_docs_scale.py
(30-word vocabulary, 10-100 tokens), with planted near-duplicates (one
token replaced) and exact copies of standing documents in every batch.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IN_HOUR_DUP = 0.04
NULL_WIND = 0.03
NULL_VIS = 0.03
NULL_CRIT = 0.01
OUT_OF_RANGE = 0.02
LATE_FIX = 0.01

READING_FILES = 4
POLL_CITIES = 20  # the reference's shipped city list (config/cities.json)
POLL_MISSING = 2
DAY0 = 1767225600  # 2026-01-01T00:00:00Z
DAY_S = 86400
DIURNAL = [6 * math.sin(math.pi * h / 12) for h in range(24)]

SYLL = ["ka", "ro", "vel", "mi", "tor", "an", "su", "del", "bri", "on",
        "lu", "mar", "ne", "ost", "pa", "ril", "sen", "ta", "ur", "zo"]
COUNTRIES = ["GB", "US", "JP", "FR", "AU", "DE", "RU", "CN", "IN", "EG",
             "BR", "CA", "MX", "ES", "IT", "NO", "KE", "AR", "NZ", "ZA"]
DESCS = ["clear sky", "few clouds", "scattered clouds", "broken clouds",
         "light rain", "moderate rain", "mist", "snow", "overcast clouds"]


def _cities(rng, n_cities):
    names = set()
    out = []
    while len(out) < n_cities:
        k = int(rng.integers(2, 4))
        name = "".join(SYLL[int(i)] for i in rng.integers(0, len(SYLL), k))
        if name in names:
            continue
        names.add(name)
        canon = name.capitalize()
        cc = COUNTRIES[int(rng.integers(0, len(COUNTRIES)))]
        # a third of the cities arrive untidy (lower case, padded); the
        # pipeline's text cleaning restores the canonical key
        messy = rng.random() < 0.33
        out.append({
            "canon": canon, "cc": cc,
            "raw": f" {name} " if messy else canon,
            "raw_cc": cc.lower() if messy else cc,
            "lat": round(float(rng.uniform(-60, 70)), 4),
            "lon": round(float(rng.uniform(-180, 180)), 4),
            "base": float(rng.uniform(-5, 25)),
        })
    return out


def _doc(c, ts, temp, r, wind=True, vis=True, pressure=None):
    """One API document; `r` holds this reading's pre-drawn values."""
    d = {
        "coord": {"lon": c["lon"], "lat": c["lat"]},
        "weather": [{"id": 800, "main": "Weather", "description": DESCS[r[0]],
                     "icon": "01d"}],
        "main": {"temp": temp,
                 "feels_like": None if temp is None else round(temp - 1.5, 1),
                 "temp_min": temp, "temp_max": temp,
                 "pressure": r[1] if pressure is None else pressure,
                 "humidity": r[2]},
        "clouds": {"all": r[3]},
        "dt": int(ts),
        "sys": {"country": c["raw_cc"], "sunrise": int(ts), "sunset": int(ts)},
        "name": c["raw"],
    }
    if wind:
        d["wind"] = {"speed": r[4], "deg": r[5]}
    if vis:
        d["visibility"] = r[6]
    return d


def _draws(rng, n):
    """Per-reading field values for n readings, drawn in one go."""
    cols = [rng.integers(0, len(DESCS), n), rng.integers(985, 1040, n),
            rng.integers(20, 101, n), rng.integers(0, 101, n),
            np.round(rng.uniform(0, 20, n), 1), rng.integers(0, 360, n),
            rng.integers(1000, 10001, n)]
    return [tuple(v.item() for v in row) for row in zip(*cols)]


def _valid(temp, pressure):
    return (temp is not None and -60 <= temp <= 60
            and 800 <= pressure <= 1100)


class Weather:
    """Generates days in order and keeps the expected stored state.

    `batches` is the load plan: a list of day-index lists, each loaded
    as one batch. Late corrections are only planted on a day whose
    previous day was loaded by an earlier batch, so a correction never
    meets the row it corrects inside one batch.
    """

    def __init__(self, seed, batches, out_dir, n_cities):
        self.rng = np.random.default_rng([seed, 1])
        self.cities = _cities(self.rng, n_cities)
        self.batch_truth = []
        prev_batch_days = set()
        loaded_prev = {}  # survivors of the previous day, for corrections
        for bi, days in enumerate(batches):
            bdir = os.path.join(out_dir, f"batch{bi:03d}")
            docs, poll = [], []
            fixes = []
            for day in days:
                corr_ok = (day - 1) in prev_batch_days
                d_docs, d_poll, d_fix = self._day(day, loaded_prev.get(day - 1, []),
                                                  corr_ok)
                docs += d_docs
                poll += d_poll
                fixes += d_fix
            self._write(bdir, docs, poll)
            truth = self._apply(docs + [p for p in poll if p is not None], fixes)
            truth["dir"] = bdir
            truth["days"] = list(days)
            self.batch_truth.append(truth)
            for day in days:
                loaded_prev[day] = truth["survivors_by_day"].get(day, [])
            prev_batch_days |= set(days)

    def _day(self, day, prev_survivors, corr_ok):
        rng = self.rng
        t0 = DAY0 + day * DAY_S
        season = 8 * math.sin(2 * math.pi * (day % 365) / 365.0)
        n = len(self.cities) * 24
        minute = rng.integers(0, 10, n).tolist()
        noise = rng.normal(0, 1.5, n).tolist()
        u = rng.random(n).tolist()
        half = rng.random(n).tolist()
        no_wind = (rng.random(n) < NULL_WIND).tolist()
        no_vis = (rng.random(n) < NULL_VIS).tolist()
        dup = (rng.random(n) < IN_HOUR_DUP).tolist()
        dup_minute = rng.integers(20, 59, n).tolist()
        draws = _draws(rng, n + sum(dup) + n // 50 + POLL_CITIES + 8)
        k = 0
        docs = []
        for ci, c in enumerate(self.cities):
            for h in range(24):
                j = ci * 24 + h
                ts = t0 + h * 3600 + minute[j] * 60
                temp = round(c["base"] + season + DIURNAL[h] + noise[j], 1)
                pressure = None
                if u[j] < NULL_CRIT:
                    temp = None
                elif u[j] < NULL_CRIT + OUT_OF_RANGE:
                    if half[j] < 0.5:
                        temp = 75.0
                    else:
                        pressure = 700
                docs.append(_doc(c, ts, temp, draws[k], wind=not no_wind[j],
                                 vis=not no_vis[j], pressure=pressure))
                k += 1
                if dup[j]:
                    # a later reading in the same hour: the pipeline keeps
                    # the earliest
                    ts2 = t0 + h * 3600 + dup_minute[j] * 60
                    docs.append(_doc(c, ts2, round(float(temp or 0) + 0.3, 1), draws[k]))
                    k += 1
        fixes = []
        if corr_ok and prev_survivors:
            m = max(1, int(round(LATE_FIX * len(docs))))
            pick = rng.choice(len(prev_survivors), size=min(m, len(prev_survivors)),
                              replace=False)
            byname = {(c["canon"], c["cc"]): c for c in self.cities}
            for i in sorted(int(j) for j in pick):
                city, cc, ts, temp = prev_survivors[i]
                new_temp = round(temp + float(rng.uniform(0.5, 3.0)), 1)
                docs.append(_doc(byname[(city, cc)], ts, new_temp, draws[k]))
                k += 1
                fixes.append((city, cc, ts, new_temp))
        # current-conditions poll at 12:30-12:59, one document per city
        poll = []
        for ci in rng.choice(len(self.cities), size=POLL_CITIES, replace=False):
            c = self.cities[int(ci)]
            ts = t0 + 12 * 3600 + int(rng.integers(30, 60)) * 60
            temp = round(c["base"] + season + float(rng.normal(0, 1.5)), 1)
            poll.append(_doc(c, ts, temp, draws[k]))
            k += 1
        poll += [None] * POLL_MISSING
        return docs, poll, fixes

    def _write(self, bdir, docs, poll):
        rdir = os.path.join(bdir, "readings")
        pdir = os.path.join(bdir, "poll")
        os.makedirs(rdir)
        os.makedirs(pdir)
        files = [open(os.path.join(rdir, f"part-{i}.jsonl"), "w")
                 for i in range(READING_FILES)]
        for i, d in enumerate(docs):
            files[i % READING_FILES].write(json.dumps(d) + "\n")
        for f in files:
            f.close()
        names = []
        for i, d in enumerate(poll):
            name = f"p{i:03d}"
            names.append(name)
            if d is not None:
                with open(os.path.join(pdir, name + ".json"), "w") as f:
                    json.dump(d, f)
        self._poll_names = names

    def _apply(self, raw_docs, fixes):
        """The pipeline's documented semantics, applied independently:
        keep the earliest reading per (raw city, raw country, hour),
        drop rows with a null critical field or outside the bounds,
        canonicalise the text key, then upsert by (city, country, ts)."""
        groups = {}
        for d in raw_docs:
            key = (d["name"], d["sys"]["country"], d["dt"] // 3600)
            if key not in groups or d["dt"] < groups[key]["dt"]:
                groups[key] = d
        survivors = []
        for d in groups.values():
            if _valid(d["main"]["temp"], d["main"]["pressure"]):
                survivors.append((d["name"].strip().capitalize(),
                                  d["sys"]["country"].upper(), d["dt"],
                                  d["main"]["temp"]))
        by_day = {}
        for s in survivors:
            by_day.setdefault((s[2] - DAY0) // DAY_S, []).append(s)
        for v in by_day.values():
            v.sort()
        return {"raw": len(raw_docs), "out": len(survivors),
                "fixes": fixes, "poll": list(self._poll_names),
                "skipped": POLL_MISSING,
                "survivors_by_day": by_day}

    def snapshot_after(self, n_batches):
        """Expected table after the first n_batches batches."""
        table = {}
        for t in self.batch_truth[:n_batches]:
            for v in t["survivors_by_day"].values():
                for city, cc, ts, temp in v:
                    table[(city, cc, ts)] = temp
        return table


VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
NEAR_DUP = 0.04
EXACT_DUP = 0.003
DIMS = 64
CLUSTERS = 48


def grams(text, n=3):
    """Distinct word n-grams, as the dedup index derives them
    (lower-cased, trimmed, split on single spaces)."""
    t = text.strip().lower().split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a, b):
    ga, gb = grams(a), grams(b)
    if not ga and not gb:
        return 1.0
    return len(ga & gb) / len(ga | gb)


class Corpus:
    """Standing corpus + batches. Near-duplicates and exact copies in a
    batch always copy a standing document, so the ground truth does not
    depend on what earlier batches kept."""

    def __init__(self, seed, n_corpus, n_batches, batch_size, out_dir):
        rng = np.random.default_rng([seed, 2])
        self.n_corpus = n_corpus
        self.batch_size = batch_size
        centers = rng.standard_normal((CLUSTERS, DIMS))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)

        def texts(n):
            lens = rng.integers(10, 101, n)
            flat = rng.choice(VOCAB, size=int(lens.sum()))
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            return [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n)]

        def vecs(n):
            v = centers[rng.integers(0, CLUSTERS, n)] + 0.35 * rng.standard_normal((n, DIMS))
            return v / np.linalg.norm(v, axis=1, keepdims=True)

        ctext = texts(n_corpus)
        cvec = vecs(n_corpus)
        # the standing corpus carries its own near-duplicates too, so
        # the index's gram statistics look like a real crawl
        for i in rng.choice(n_corpus, size=int(n_corpus * NEAR_DUP), replace=False):
            src = int(rng.integers(0, n_corpus))
            toks = ctext[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            ctext[i] = " ".join(toks)
        self.vectors = [cvec.astype(np.float32)]
        self._write(os.path.join(out_dir, "corpus"), 0, ctext, cvec)

        self.batches = []
        for b in range(n_batches):
            base = n_corpus + b * batch_size
            btext = texts(batch_size)
            bvec = vecs(batch_size)
            n_near = int(round(batch_size * NEAR_DUP))
            n_exact = max(1, int(round(batch_size * EXACT_DUP)))
            slots = rng.choice(batch_size, size=n_near + n_exact, replace=False)
            near, exact = [], []
            for j, s in enumerate(slots):
                s = int(s)
                src = int(rng.integers(0, n_corpus))
                if j < n_near:
                    toks = ctext[src].split(" ")
                    toks[int(rng.integers(0, len(toks)))] = "dup"
                    btext[s] = " ".join(toks)
                    v = cvec[src] + 0.05 * rng.standard_normal(DIMS)
                    bvec[s] = v / np.linalg.norm(v)
                    # a planted pair counts when it is a near-duplicate
                    # by the definition the engine is asked for
                    # (word-3-gram Jaccard >= 0.5)
                    if jaccard(btext[s], ctext[src]) >= 0.5:
                        near.append(base + s)
                else:
                    btext[s] = ctext[src]
                    exact.append(base + s)
            d = os.path.join(out_dir, f"batch{b:03d}")
            self._write(d, base, btext, bvec)
            self.vectors.append(bvec.astype(np.float32))
            self.batches.append({"dir": d, "lo": base, "hi": base + batch_size - 1,
                                 "near": sorted(near), "exact": sorted(exact)})

    @staticmethod
    def _write(d, base, text, vec):
        os.makedirs(d)
        n = len(text)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(base, base + n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        }), os.path.join(d, "docs.parquet"))

    def vector(self, ids):
        allv = np.concatenate(self.vectors)
        return allv[np.asarray(ids, dtype=np.int64)]
