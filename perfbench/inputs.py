"""Seeded, cached inputs for the benchmark.

The base fixture (FIXTURES.md T1-T3) is built once per size through
``datagen.clips_df``, ``datagen.transcripts_df`` and
``datagen.reference_histograms_pdf`` and cached under the checkout. The seed
then only decides

* the row order on disk of each run's copy of the tables,
* which rows the v2 delta touches (``make_delta``),
* the order of service requests (in ``workloads``).

Sizes and violation rates never depend on the seed: the delta touches a
fixed number of rows of each kind. The delta uses only edits the DuckDB
oracle can express: delete rows, update ``dur_ms`` or transcript ``text``,
insert transcript rows. Clip ids keep their ``clip_%08d`` form, which the
oracle's audio check reads.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTS = 8  # files per table, so the scan splits across local[nproc] tasks
# per-table share of rows touched by each edit kind of the v2 delta
DELTA_CLIP_DELETE = 0.005
DELTA_CLIP_DUR = 0.005
DELTA_TR_DELETE = 0.0034
DELTA_TR_TEXT = 0.0033
DELTA_TR_INSERT = 0.0033


def ensure_base(spark, cache_dir: str, n_clips: int) -> str:
    """Build the seed-independent fixture once; returns its directory."""
    from shaclapi_spark import datagen

    out = os.path.join(cache_dir, "base", f"n{n_clips}")
    marker = os.path.join(out, "_BASE_OK")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    datagen.clips_df(spark, n_clips).write.parquet(os.path.join(out, "clips.parquet"))
    datagen.transcripts_df(spark, n_clips).write.parquet(
        os.path.join(out, "transcripts.parquet")
    )
    pq.write_table(
        pa.Table.from_pandas(datagen.reference_histograms_pdf(), preserve_index=False),
        os.path.join(out, "ref_histograms.parquet"),
    )
    with open(marker, "w") as fh:
        fh.write(str(n_clips))
    return out


def _write_parts(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for k, part in enumerate(np.array_split(np.arange(len(df)), N_PARTS)):
        t = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{k:05d}.parquet"))


def _read(path: str) -> tuple[pd.DataFrame, pa.Schema]:
    t = pq.read_table(path)
    return t.to_pandas(), t.schema.remove_metadata()


def write_seeded(base: str, out: str, seed: int) -> dict[str, str]:
    """Copy the base tables to ``out`` in a seed-determined row order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    paths = {}
    for name in ("clips", "transcripts"):
        df, schema = _read(os.path.join(base, f"{name}.parquet"))
        df = df.iloc[rng.permutation(len(df))]
        paths[name] = os.path.join(out, f"{name}.parquet")
        _write_parts(df, paths[name], schema)
    paths["ref_histograms"] = os.path.join(out, "ref_histograms.parquet")
    pq.write_table(
        pq.read_table(os.path.join(base, "ref_histograms.parquet")),
        paths["ref_histograms"],
    )
    return paths


def make_delta(v1: dict[str, str], out: str, seed: int) -> tuple[dict[str, str], dict]:
    """Write v2 = v1 plus a seeded delta of about 1% of each table's rows.

    clips:       delete every row of some clip ids; add 40000 to ``dur_ms``
                 of others (flips dur_range / or_dur)
    transcripts: delete rows; append '!?' to ``text`` (breaks
                 tr_text_match); insert copies of rows under new ids
                 (their parents overflow tr_max1)
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    clips, c_schema = _read(v1["clips"])
    ids = clips["clip_id"].unique()
    n_del, n_dur = round(DELTA_CLIP_DELETE * len(ids)), round(DELTA_CLIP_DUR * len(ids))
    pick = rng.choice(len(ids), n_del + n_dur, replace=False)
    del_ids, dur_ids = set(ids[pick[:n_del]]), set(ids[pick[n_del:]])
    clips = clips[~clips["clip_id"].isin(del_ids)].copy()
    upd = clips["clip_id"].isin(dur_ids) & clips["dur_ms"].notna()
    clips.loc[upd, "dur_ms"] = clips.loc[upd, "dur_ms"] + 40000

    tr, t_schema = _read(v1["transcripts"])
    n = len(tr)
    n_del_t = round(DELTA_TR_DELETE * n)
    n_txt = round(DELTA_TR_TEXT * n)
    n_ins = round(DELTA_TR_INSERT * n)
    pick = rng.choice(n, n_del_t + n_txt + n_ins, replace=False)
    rows_txt = pick[n_del_t : n_del_t + n_txt]
    ins = tr.iloc[pick[n_del_t + n_txt :]].copy()
    ins["transcript_id"] = [f"tr_ins_{k:08d}" for k in range(len(ins))]
    text = tr["text"].copy()
    has_text = text.iloc[rows_txt].notna().to_numpy()
    text.iloc[rows_txt[has_text]] = text.iloc[rows_txt[has_text]] + "!?"
    tr = tr.assign(text=text)
    keep = np.ones(n, dtype=bool)
    keep[pick[:n_del_t]] = False
    tr = pd.concat([tr[keep], ins], ignore_index=True)

    paths = {
        "clips": os.path.join(out, "clips.parquet"),
        "transcripts": os.path.join(out, "transcripts.parquet"),
        "ref_histograms": v1["ref_histograms"],
    }
    _write_parts(clips, paths["clips"], c_schema)
    _write_parts(tr, paths["transcripts"], t_schema)
    stats = {
        "clip_ids_deleted": n_del,
        "clip_ids_dur_updated": n_dur,
        "transcripts_deleted": n_del_t,
        "transcripts_text_updated": int(has_text.sum()),
        "transcripts_inserted": n_ins,
    }
    return paths, stats
