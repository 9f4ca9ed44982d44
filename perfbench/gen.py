"""Seeded benchmark inputs and their expected outputs.

Each input is built in this (single) process from the seed alone and
cached under ``<cache>/<kind>-<seed>/`` next to the values the output
checks compare against. Expected values come from ``tests/oracle.py``
(pages) or from a pandas computation of the report formulas (packets),
never from an earlier run of the program.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# pages corpus (the resume input): one gen_pages_fast chunk, tiled with a url suffix so
# (url, warc_ts) stays unique across tiles (duplicates stay inside a tile)
PAGES_BASE_DOCS = 6_000
PAGES_TILES = 16  # ~50k pending rows: annotate is the largest layer of a resume op, and runs fit the budget
PAGES_FILES = 16
# 1 in SAMPLE_MOD urls is checked against the oracle; the sample is by
# url hash, so whole (url, warc_ts) groups are kept or left out together
SAMPLE_MOD = 16

# packet table (gen_iot's shape and quotas, vectorized)
PACKETS = 600_000
ENTITIES = 1_000
PACKET_FILES = 16
REQUIRED = ["entity_id", "observationDateTime", "payload_str", "payload_num"]

NUM_PARTS = 32  # resumable work units (DEFAULT_CONFIG.num_partitions)

_VERSION = "5"  # bump when a generator changes so old caches are rebuilt


def _sampled(url: str) -> bool:
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:8], 16) % SAMPLE_MOD == 0


def _write_files(tbl: pa.Table, d: str, n_files: int) -> None:
    os.makedirs(d, exist_ok=True)
    n = tbl.num_rows
    per = -(-n // n_files)
    for k in range(n_files):
        pq.write_table(tbl.slice(k * per, per), os.path.join(d, f"part-{k:03d}.parquet"))


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def _cached(cache: str, kind: str, seed: int, build) -> dict:
    d = os.path.join(cache, f"{kind}-{seed}-v{_VERSION}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        os.utime(d)  # now the newest entry, so prune() keeps it
        with open(meta_path) as f:
            return json.load(f)
    tmp = d + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    meta["dir"] = d
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return meta


# ---------------------------------------------------------------------------
# pages corpus (the resume workload's input)
# ---------------------------------------------------------------------------


def pages_frame(seed: int) -> pd.DataFrame:
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    base = gen_pages_fast(PAGES_BASE_DOCS, seed=seed)
    tiles = []
    for t in range(PAGES_TILES):
        p = base.copy()
        p["url"] = p["url"] + f"?t={t}"
        tiles.append(p)
    df = pd.concat(tiles, ignore_index=True)
    # spread each tile (and its duplicates) over every input file
    return df.iloc[np.random.RandomState(seed).permutation(len(df))].reset_index(drop=True)


def _pages_expected(df: pd.DataFrame) -> pd.DataFrame:
    from data_quality_assessment_spark.functions import textcore
    from tests.oracle import oracle_pipeline

    sample = df[df["url"].map(_sampled)]
    exp = oracle_pipeline(sample)
    exp["rules_fired"] = exp["rules_fired"].map(",".join)
    # the oracle's scrubbed_text is always materialized; keep each
    # url's extracted text too, so a sink holding the kernel's
    # NULL-means-unchanged form can be filled back before comparing
    extracted = {
        u: textcore.extract_text(bytes(h)) if h is not None else (t if isinstance(t, str) else "")
        for u, h, t in zip(sample["url"], sample["html"], sample["text"])
    }
    exp["extracted"] = exp["url"].map(extracted)
    return exp[["url", "warc_ts", "keep", "rules_fired", "scrubbed_text", "extracted"]]


def build_pages(cache: str, seed: int) -> dict:
    def build(d: str) -> dict:
        df = pages_frame(seed)
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        i = tbl.schema.get_field_index("warc_ts")
        # Spark reads no TIMESTAMP(NANOS) parquet
        tbl = tbl.set_column(i, "warc_ts", tbl.column("warc_ts").cast(pa.timestamp("us")))
        _write_files(tbl, os.path.join(d, "input"), PAGES_FILES)
        exp = _pages_expected(df)
        exp.to_parquet(os.path.join(d, "expected.parquet"), index=False)
        ts_key = df["warc_ts"].astype("object").map(lambda t: "NULL" if pd.isna(t) else str(t))
        n_groups = int(pd.DataFrame({"u": df["url"], "t": ts_key}).drop_duplicates().shape[0])
        # the resume template holds a finished run for half the part_ids
        done = sorted(int(x) for x in np.random.RandomState(seed).choice(NUM_PARTS, NUM_PARTS // 2, replace=False))
        return {
            "rows": len(df),
            "bytes": _dir_bytes(os.path.join(d, "input")),
            "files": PAGES_FILES,
            "dedup_rows": n_groups,
            "exact_dup_share": round(1 - n_groups / len(df), 6),
            "null_text_share": round(float(df["text"].isna().mean()), 6),
            "sample_rows": len(exp),
            "num_parts": NUM_PARTS,
            "template_parts": done,
        }

    return _cached(cache, "pages", seed, build)


# ---------------------------------------------------------------------------
# packets (the report workload's input)
# ---------------------------------------------------------------------------


def packets_frame(seed: int) -> pd.DataFrame:
    """gen_iot's shape and quotas (regular 30 s cadence with jitter, 2%
    gaps, 10% / 5% payload nulls, 3% extra attributes, 5% exact
    duplicates), drawn column-wise instead of row by row."""
    rng = np.random.RandomState(seed)
    n = PACKETS
    e = rng.randint(ENTITIES, size=n)
    # k-th packet of its entity (gen_iot's i // n_entities, per entity)
    k = pd.Series(e).groupby(e).cumcount().to_numpy()
    jitter = rng.randint(0, 4, size=n)
    gap = np.where(rng.rand(n) < 0.02, 1800, 0)
    secs = e * 7 + k * 30 + jitter + gap
    ts = np.datetime64("2022-01-01T10:00:00") + secs.astype("timedelta64[s]")
    ts_str = np.char.add(np.datetime_as_string(ts, unit="s"), "+05:30")
    s_null = rng.rand(n) < 0.10
    s_val = np.array([f"s{v}" for v in range(100)], dtype=object)[rng.randint(100, size=n)]
    n_null = rng.rand(n) < 0.05
    n_val = np.round(rng.rand(n) * 50, 2)
    x_on = rng.rand(n) < 0.03
    extra = np.full(n, None, dtype=object)
    extra[x_on] = [f"x{i}" for i in np.flatnonzero(x_on)]
    df = pd.DataFrame({
        "entity_id": np.array([f"ent{v:04d}" for v in range(ENTITIES)], dtype=object)[e],
        "observationDateTime": ts_str.astype(object),
        "payload_str": np.where(s_null, None, s_val),
        "payload_num": np.where(n_null, np.nan, n_val),
        "extra_attr": extra,
    })
    dup = df.iloc[rng.permutation(n)[: int(0.05 * n)]]
    df = pd.concat([df, dup], ignore_index=True)
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def _round_half_up(x: float, dp: int) -> float:
    """Spark ``round`` on a double: HALF_UP on its shortest decimal form."""
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def report_expected(df: pd.DataFrame) -> dict[str, float]:
    """The six scores of ``six_metric_report(global_order=False)``:
    dupe/format/unknown/completeness on the raw frame, then dedup on
    (entity, ts) and per-entity IAT for regularity and outliers."""
    r = _round_half_up
    total = len(df)
    # ISO-8601 local time + "+HH:MM" offset -> UTC instant
    raw = df["observationDateTime"]
    local = raw.str[:19].to_numpy(dtype="datetime64[s]")
    offs = {o: int(o[0] + "1") * (int(o[1:3]) * 3600 + int(o[4:6]) * 60) for o in raw.str[19:].unique()}
    ts = pd.Series(local - raw.str[19:].map(offs).to_numpy().astype("timedelta64[s]")).astype("datetime64[ns]")
    keys = pd.DataFrame({"e": df["entity_id"], "t": ts})
    n_groups = len(keys.drop_duplicates())
    nulls = df[REQUIRED[:1] + REQUIRED[2:]].isna()
    nulls["ts"] = ts.isna()
    extras = [c for c in df.columns if c not in REQUIRED]
    any_extra = df[extras].notna().any(axis=1)

    dd = keys.drop_duplicates().sort_values(["e", "t"], kind="mergesort")
    us = dd["t"].astype("int64") // 1000
    iat = (us.groupby(dd["e"].to_numpy()).diff() / 1e6).dropna()
    iat = iat[iat >= 0]
    vc = iat.value_counts()
    mode = float(min(vc[vc == vc.max()].index))
    mad = float((iat - mode).abs().median())
    n_out = int((0.6745 * (iat - mode) / mad > 3.5).sum()) if mad > 0 else 0
    rae = (iat - mode).abs() / mode
    good = float((1 - 2 * rae[rae <= 0.5]).sum())
    cnt = float((rae <= 0.5).sum())
    bad = float((2 * rae[rae > 0.5]).sum())
    out = {
        "dupe": r(1 - (total - n_groups) / total, 3),
        "regularity": r(r(good / (cnt + bad), 6), 3),
        "outliers": r(r(1 - n_out / len(iat), 6), 3),
        "format_adherence": r(1 - nulls.any(axis=1).sum() / total, 4),
        "unknown_absence": r(1 - any_extra.sum() / total, 4),
        "completeness": r(1 - nulls.to_numpy().sum() / (total * len(REQUIRED)), 6),
    }
    out["avg_score"] = r(sum(out.values()) / 6, 3)
    return out


def build_packets(cache: str, seed: int) -> dict:
    def build(d: str) -> dict:
        df = packets_frame(seed)
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        _write_files(tbl, os.path.join(d, "input"), PACKET_FILES)
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(report_expected(df), f)
        return {
            "rows": len(df),
            "bytes": _dir_bytes(os.path.join(d, "input")),
            "files": PACKET_FILES,
            "entities": ENTITIES,
            "exact_dup_share": round(1 - len(df.drop_duplicates()) / len(df), 6),
        }

    return _cached(cache, "packets", seed, build)


def prune(cache: str, keep: int = 24) -> None:
    """Drop all but the ``keep`` most recently built inputs."""
    if not os.path.isdir(cache):
        return
    dirs = sorted(
        (os.path.join(cache, x) for x in os.listdir(cache)),
        key=os.path.getmtime,
    )
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)
