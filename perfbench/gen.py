"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files. Each also writes `truth.json`, the planted answers
the output checks compare against; nothing in it comes from engine code.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Input sizes per workload; part of the cache key, recorded in every result.
SIZES = {
    "solar_validation": {"stations": 35, "days": 2, "ground_stations": 29},
    "corpus_dedup": {"singletons": 2000, "exact_copies": 100, "clusters": 30,
                     "max_cluster": 40, "dirty": 150},
    "query_mix": {"events": 100000, "days": 30, "users": 1500},
}

# ------------------------------------------------------------------ solar
STATIONS = [
    ("Banda_Aceh", 7), ("Medan", 7), ("Padang", 7), ("Padang_Pariaman", 7),
    ("Pekanbaru", 7), ("Jambi", 7), ("Palembang", 7), ("Bengkulu", 7),
    ("Bandar_Lampung", 7), ("Pangkal_Pinang", 7), ("Tanjung_Pinang", 7),
    ("Jakarta", 7), ("Bandung", 7), ("Semarang", 7), ("Sleman", 7),
    ("Surabaya", 7), ("Serang", 7), ("Pontianak", 7), ("Palangka_Raya", 7),
    ("Denpasar", 8), ("Mataram", 8), ("Kupang", 8), ("Banjarmasin", 8),
    ("Samarinda", 8), ("Tanjung_Selor", 8), ("Manado", 8), ("Palu", 8),
    ("Makassar", 8), ("Kendari", 8), ("Gorontalo", 8), ("Mamuju", 8),
    ("Ambon", 9), ("Sofifi", 9), ("Jayapura", 9), ("Manokwari", 9),
]
SKY_TYPES = ["clear", "observed_cloud"]
EXCLUDED = "Sleman"
# The reference station file carries Sleman at a west longitude (typo).
SLEMAN_LONGITUDE = -110.35362
FLAGS = ["flag_ghi", "flag_dhi", "flag_dni", "flag_ghi_rare", "flag_dhi_rare",
         "flag_dni_rare", "flag_comp1", "flag_comp2"]
COMPONENTS = [("GHI", "GHI"), ("DHI", "DHI"), ("DNI", "BNI")]


def clean_station(name):
    """The canonical station key the compile step derives (lowercase,
    underscores to spaces, non-alphanumerics dropped, spaces collapsed)."""
    s = "".join(ch for ch in name.replace("_", " ").lower() if ch.isalnum() or ch == " ")
    return " ".join(s.split())


def _bucket_means(values, valid, bucket, n_buckets):
    """Mean of `values` per 10-min bucket over rows where `valid`; NaN if none."""
    v = np.where(valid, values, 0.0)
    s = np.bincount(bucket, weights=v, minlength=n_buckets)
    c = np.bincount(bucket, weights=valid.astype(np.float64), minlength=n_buckets)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(c > 0, s / c, np.nan)


def gen_solar(seed, out, size):
    rng = np.random.default_rng(seed)
    days = size["days"]
    n_min = days * 1440
    n_buckets = days * 144
    os.makedirs(f"{out}/raw")
    os.makedirs(f"{out}/ground")
    start = np.datetime64("2024-01-01T00:00:00")
    t = start + np.arange(n_min + 1).astype("timedelta64[m]")
    iso = np.char.add(np.datetime_as_string(t, unit="s"), ".0")
    period = np.char.add(np.char.add(iso[:-1], "/"), iso[1:])
    minute = np.arange(n_min)
    bucket = minute // 10

    # station metadata; a few names spelled with spaces to exercise the
    # canonical-key match against underscore file names
    meta_rows = ["no,station,latitude,longitude,elevation,timezone"]
    stations = STATIONS[:size["stations"]]
    for i, (name, tz) in enumerate(stations):
        lat = round(float(rng.uniform(-10.0, 5.0)), 5)
        lon = SLEMAN_LONGITUDE if name == EXCLUDED else round(95.0 + 45.0 * i / len(stations), 5)
        elev = round(float(rng.uniform(2.0, 1200.0)), 1)
        shown = name.replace("_", " ") if i % 4 == 3 else name
        meta_rows.append(f"{i + 1},{shown},{lat},{lon},{elev},UTC+{tz}")
    with open(f"{out}/stations.csv", "w") as f:
        f.write("\n".join(meta_rows) + "\n")

    ground_idx = sorted(rng.choice(len(stations), size["ground_stations"], replace=False).tolist())
    truth = {"days": days, "rows_per_file": {}, "raw_lines": 0, "bad_lines": 0,
             "coef": {}, "cube_stations": {}, "excluded": clean_station(EXCLUDED)}
    for name, tz in stations:
        if name != EXCLUDED:
            truth["cube_stations"][clean_station(name)] = tz
    hour_utc = (minute % 1440) / 60.0
    for si, (name, tz) in enumerate(stations):
        solar = np.clip(np.sin(np.pi * ((hour_utc + tz - 6.0) % 24.0) / 12.0), 0.0, None)
        for sky in SKY_TYPES:
            if sky == "clear":
                att = np.ones(n_min)
                cloud = np.zeros(n_min)
            else:
                walk = np.cumsum(rng.normal(0.0, 0.02, n_min))
                att = np.clip(0.7 + 0.25 * np.sin(walk), 0.15, 1.0)
                cloud = np.round((1.0 - att) * 100.0, 1)
            ghi = np.round(solar * att * 1000.0 / 60.0, 4)
            dhi = np.round(ghi * (0.25 + 0.5 * (1.0 - att)), 4)
            bni = np.round(np.maximum(ghi - dhi, 0.0) * 1.2, 4)
            keep = np.ones(n_min, dtype=bool)
            for _ in range(int(rng.integers(1, 4))):  # planted outages
                s0 = int(rng.integers(0, n_min - 300))
                keep[s0:s0 + int(rng.integers(5, 300))] = False
            err = keep & (rng.random(n_min) < 0.0005)  # GHI field unreadable
            idx = np.flatnonzero(keep)
            ghi_s = pc.cast(pa.array(ghi[idx]), pa.string())
            ghi_s = pc.if_else(pa.array(err[idx]), "ERR", ghi_s)
            body = pa.table({"p": pa.array(period[idx]), "g": ghi_s,
                             "d": pa.array(dhi[idx]), "b": pa.array(bni[idx]),
                             "c": pa.array(cloud[idx])})
            n_bad = int(rng.integers(3, 12))  # lines whose timestamp does not parse
            bad_at = np.sort(rng.choice(len(idx), n_bad, replace=False))
            path = f"{out}/raw/raw_1min_{name}_{sky}.csv"
            with open(path, "wb") as f:
                f.write((f"# Title: CAMS solar radiation time-series ({sky})\n"
                         f"# Location: {name}\n# Time step: 1 minute\n"
                         "# Observation period;GHI;DHI;BNI;Cloud coverage\n").encode())
                prev = 0
                for k, at in enumerate(bad_at.tolist() + [len(idx)]):
                    if at > prev:
                        pacsv.write_csv(body.slice(prev, at - prev), f, pacsv.WriteOptions(
                            include_header=False, delimiter=";", quoting_style="none"))
                    if k < n_bad:
                        f.write(f"2024-13-{k:02d}T25:61:00.0/corrupt;;;;\n".encode())
                    prev = at
            truth["raw_lines"] += len(idx) + n_bad
            truth["bad_lines"] += n_bad
            truth["rows_per_file"][f"{name}_{sky}"] = int(np.unique(bucket[idx]).size)
            if sky != "observed_cloud" or si not in ground_idx:
                continue
            # ground: cams (W/m2) = slope * ground + intercept, per component
            cams = {"GHI": ghi, "DHI": dhi, "BNI": bni}
            grid = np.arange(n_buckets)
            rows = {"Datetime (UTC)": pa.array(np.datetime_as_string(
                start + (grid * 10).astype("timedelta64[m]"), unit="s")).cast(pa.string())}
            rows["Datetime (UTC)"] = pc.replace_substring(rows["Datetime (UTC)"], "T", " ")
            flagged = rng.random(n_buckets) < 0.03
            coef = {}
            for comp, src in COMPONENTS:
                a = round(float(rng.uniform(0.8, 1.2)), 4)
                b = round(float(rng.uniform(-15.0, 15.0)), 3)
                valid = keep & ~err if src == "GHI" else keep
                mean_w = _bucket_means(cams[src], valid, bucket, n_buckets) * 60.0
                g = np.where(np.isnan(mean_w), rng.uniform(0, 800, n_buckets), (mean_w - b) / a)
                g = np.where(flagged, g * 2.0 + 300.0, g)
                rows[comp] = pa.array(np.round(g, 3))
                coef[comp] = {"slope": a, "intercept": b}
            for fl in FLAGS:
                rows[fl] = pa.array(np.where(flagged & (fl == "flag_ghi"), 1, 0).astype(np.int32))
            truth["coef"][name] = coef
            with open(f"{out}/ground/QC_{name}_2024_flagged.csv", "wb") as f:
                f.write((",".join(rows) + "\n").encode())
                pacsv.write_csv(pa.table(rows), f, pacsv.WriteOptions(
                    include_header=False, quoting_style="none"))
    truth["input_rows"] = truth["raw_lines"]
    return truth


# ----------------------------------------------------------------- corpus
STOPWORDS = ["the", "a", "of", "and", "to"]


def gen_corpus(seed, out, size):
    rng = np.random.default_rng(seed)
    vocab = np.array(STOPWORDS + [f"w{i}" for i in range(20000)])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    weights /= weights.sum()
    content = np.arange(len(STOPWORDS), len(vocab))
    cw = weights[content] / weights[content].sum()

    def doc(n):
        toks = vocab[rng.choice(len(vocab), n, p=weights)].tolist()
        toks[0] = "the"  # every clean document carries a stopword
        return toks

    texts, kinds = [], []  # kind: single | copy | cluster:<c> | dirty
    singles = [" ".join(doc(int(rng.integers(30, 40)))) for _ in range(size["singletons"])]
    for s in singles:
        texts.append(s)
        kinds.append("single")
    for j in rng.choice(len(singles), size["exact_copies"], replace=False).tolist():
        texts.append(singles[j])
        kinds.append("copy")
    # near-duplicate clusters with Zipf (1/rank) sizes, the largest below
    # the LSH hot-bucket cap; the sizes are fixed so every seed has the
    # same document count and pair skew
    ranks = np.arange(1, size["clusters"] + 1)
    csizes = np.maximum(2, np.round(size["max_cluster"] / ranks)).astype(int)
    for c, k in enumerate(csizes.tolist()):
        base = doc(int(rng.integers(30, 40)))
        texts.append(" ".join(base))
        kinds.append(f"cluster:{c}")
        for _ in range(k - 1):
            # a new last word changes one shingle of ~35: Jaccard ~0.94
            # with the base, which LSH then misses with odds below 1e-9
            v = list(base)
            v[-1] = vocab[content[rng.choice(len(content), p=cw)]]
            texts.append(" ".join(v))
            kinds.append(f"cluster:{c}")
    for d in range(size["dirty"]):  # rejected by the clean filter
        kind = d % 4
        if kind == 0:
            t = " ".join(doc(3))
        elif kind == 1:
            t = " ".join(doc(60)) + " { var x }"
        elif kind == 2:
            t = "lorem ipsum " + " ".join(doc(60))
        else:
            t = " ".join(vocab[content[rng.choice(len(content), 60, p=cw)]].tolist())
        texts.append(t)
        kinds.append("dirty")

    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    kinds = [kinds[i] for i in order]
    ids = np.arange(len(texts), dtype=np.int64)
    # expected survivors: exact dedup keeps the min id per text, then each
    # near-duplicate cluster keeps its min id
    first_id, clusters, kept = {}, {}, []
    for i, (t, k) in enumerate(zip(texts, kinds)):
        if k == "dirty":
            continue
        if t in first_id:
            continue
        first_id[t] = i
        if k.startswith("cluster:"):
            clusters.setdefault(k, []).append(i)
        else:
            kept.append(i)
    kept += [min(m) for m in clusters.values()]
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{int(i) % 7}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(table, f"{out}/documents.parquet")
    return {"input_rows": len(texts), "kept_ids": sorted(kept),
            "clusters": sorted(sorted(m) for m in clusters.values()),
            "planted_pairs": int(sum(len(m) * (len(m) - 1) // 2 for m in clusters.values()))}


# ----------------------------------------------------------------- events
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def gen_query_mix(seed, out, size):
    """The `events` table: skewed (Zipf) users, uniform event types."""
    rng = np.random.default_rng(seed)
    n = size["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts_us = np.sort(t0 + rng.integers(0, size["days"] * 86400 * 10**6, n))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # nanosecond, zone-less timestamps: the encoding of the engine's
        # sample tables, which `Tables.normalizeTs` handles
        "ts": pa.array(ts_us * 1000, type=pa.int64()).cast(pa.timestamp("ns")),
        "user_id": pa.array((np.minimum(rng.zipf(1.3, n), size["users"]) - 1).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        # quarter units: exact in binary, so sums do not depend on order
        "value": pa.array(rng.integers(0, 2000, n) / 4.0),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)),
                                      "}")),
    })
    pq.write_table(table, f"{out}/events.parquet")
    return {"input_rows": n}


GENERATORS = {"solar_validation": gen_solar, "corpus_dedup": gen_corpus,
              "query_mix": gen_query_mix}


def generate(workload, seed, out, size=None):
    """Write the workload's inputs and truth.json into the new dir `out`."""
    size = size or SIZES[workload]
    os.makedirs(out)
    truth = GENERATORS[workload](seed, out, size)
    truth.update({"workload": workload, "seed": seed, "size": size})
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
