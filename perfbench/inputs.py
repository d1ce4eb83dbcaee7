"""Seeded inputs for the benchmark workloads.

Every generator takes the run seed and returns the same inputs for the same
seed. The seed drives pixel content, anchors and document text; the *shape*
of each input (image sizes, scenarios, codecs, file layout, document counts)
is fixed, so the amount of work per run does not depend on the seed and the
run-to-run spread measures the engine rather than the draw.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dsm2dtm_spark import codecs, synth
from dsm2dtm_spark.params import NODATA_DEFAULT

# bench.py's image table: synth.image_table(n_rows=160, seed=1234, sizes=IMAGE_SIZES,
# dup_fraction=0.02), one parquet file in row groups of 4 rows
IMAGE_SIZES = (128, 192, 256, 384)
N_IMAGES = 160
BENCH_IMAGE_SEED = 1234
BENCH_DUP_FRACTION = 0.02
IMAGE_ROW_GROUP = 4

RASTER_PX = 1024
N_RASTERS = 4

N_DOCS = 3000  # corpus = even ids, fresh batch = odd ids
N_EXACT_VS_CORPUS = 25
N_EXACT_WITHIN_BATCH = 10
N_NEAR = 50


def image_rows(seed: int, n_images: int = N_IMAGES) -> pd.DataFrame:
    """bench.py's image table with its pixels drawn from ``seed``.

    Row ``i`` keeps the scenario, size, codec and duplicate status of row
    ``i`` of bench.py's table (11.3 Mpix over all 12 scenarios and 3 codecs
    at 160 rows); scene content and anchors come from ``seed``. A duplicate
    row repeats its source row's content under its own id, as in
    ``synth.image_table``."""
    layout = synth.image_table(
        n_rows=n_images, seed=BENCH_IMAGE_SEED, sizes=IMAGE_SIZES, dup_fraction=BENCH_DUP_FRACTION
    )
    rng = np.random.default_rng(seed)
    rows: list[dict] = []
    first: dict[bytes, int] = {}
    for i, lay in enumerate(layout.itertuples(index=False)):
        if lay.image_id.endswith("_dup"):
            rows.append({**rows[first[lay.bytes]], "image_id": f"img_{i:04d}_{lay.scenario}_dup"})
            continue
        first[lay.bytes] = i
        scenario, size, fmt = lay.scenario, int(lay.w), lay.fmt
        grid, xres, yres = synth.make_scene(scenario, rng, size)
        if fmt == "png16":  # snap so the stored truth is exactly representable
            grid = codecs.snap(grid, fmt)
        data = codecs.encode(grid, fmt)
        decoded = codecs.decode(data, size, size, fmt)
        nod = float(np.mean(decoded == NODATA_DEFAULT) * 100)
        rows.append(
            {
                "image_id": f"img_{i:04d}_{scenario}",
                "bytes": data,
                "w": size,
                "h": size,
                "fmt": fmt,
                "caption": f"{scenario} res={xres}m nodata={nod:.1f}%",
                "phash": codecs.ahash64(decoded),
                "lon0": 2.0 + float(rng.uniform(-2.0, 2.0)),
                "lat0": 36.0 + float(rng.uniform(-2.0, 2.0)),
                "xres_m": xres,
                "yres_m": yres,
                "crs": 32631,
                "scenario": scenario,
            }
        )
    return pd.DataFrame(rows).astype({"w": "int32", "h": "int32", "phash": "int64", "crs": "int32"})


def raster_rows(seed: int) -> pd.DataFrame:
    """bench.py's big-raster shape (ramp + noise + raised blocks, 2 m pixels,
    raw_f32), at ``RASTER_PX``² per raster."""
    rng = np.random.default_rng(seed)
    px = RASTER_PX
    rows = []
    yy, xx = np.mgrid[0:px, 0:px]
    block = max(8, px // 10)
    for i in range(N_RASTERS):
        g = (100.0 + 0.02 * yy + 0.01 * xx + rng.normal(0, 0.2, (px, px))).astype(np.float32)
        for _ in range(6):
            y, x = rng.integers(0, px - block, 2)
            s = int(rng.integers(block // 5, block))
            g[y : y + s, x : x + s] += float(rng.uniform(6, 18))
        rows.append(
            {
                "image_id": f"big_{i:02d}",
                "bytes": codecs.encode_raw_f32(g),
                "w": px,
                "h": px,
                "fmt": "raw_f32",
                "caption": f"bench big {i}",
                "phash": codecs.ahash64(g),
                "lon0": 2.0 + i * 0.5,
                "lat0": 36.0,
                "xres_m": 2.0,
                "yres_m": 2.0,
                "crs": 32631,
            }
        )
    return pd.DataFrame(rows).astype({"w": "int32", "h": "int32", "phash": "int64", "crs": "int32"})


def write_table(table, parts: list[pd.DataFrame], summary: dict | None = None,
                row_group_size: int | None = None) -> None:
    """Commit ``parts`` as one snapshot with one parquet file per part."""
    names = []
    for k, part in enumerate(parts):
        name = f"part-{k:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), os.path.join(table.data_dir, name),
                       row_group_size=row_group_size)
        names.append(name)
    table.commit(names, operation="append", summary=summary)


def _vocab(rng: np.random.Generator, n_words: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n_words:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def documents(seed: int, n_docs: int = N_DOCS) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(corpus, fresh) document batches: word salad over an 8k-word random
    vocabulary, 8-99 words per document, as in the repo's sf generator
    (scripts/make_sf.py). The fresh batch is the odd ids plus re-crawled
    corpus documents (exact duplicates vs the corpus), repeated fresh
    documents (exact duplicates within the batch) and one-word edits of
    corpus documents (near duplicates).

    Words are random letter strings drawn uniformly. With the sf
    generator's Zipf-weighted syllable words, unrelated documents share
    many character 3-grams: about a third of the fresh batch then passes as
    near duplicates of something, and how many depends on the seed. Here
    unrelated documents stay far apart and the near-duplicate work is the
    same on every seed."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 8000)
    lens = rng.integers(8, 100, n_docs)
    flat = rng.integers(0, len(vocab), int(lens.sum()))
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(vocab[j] for j in flat[off : off + n]))
        off += n
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    corpus = docs.iloc[::2].reset_index(drop=True)
    fresh = docs.iloc[1::2].reset_index(drop=True)

    def pick(df: pd.DataFrame, k: int) -> pd.DataFrame:
        return df.iloc[np.sort(rng.choice(len(df), k, replace=False))].copy()

    exact = pick(corpus, N_EXACT_VS_CORPUS)
    exact["doc_id"] += 1_000_000
    within = pick(fresh, N_EXACT_WITHIN_BATCH)
    within["doc_id"] += 2_000_000
    near = pick(corpus, N_NEAR)
    near["doc_id"] += 3_000_000

    def edit(text: str) -> str:
        words = text.split()
        words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        return " ".join(words)

    near["text"] = near["text"].map(edit)
    fresh = pd.concat([fresh, exact, within, near], ignore_index=True)
    return corpus, fresh

