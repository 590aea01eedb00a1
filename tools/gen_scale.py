"""Deterministic 10× scale-up of an sf dir — the input for the scaling
probe (bench.py --scaling): sfN × 10 with the SAME schema and join graph,
written under .scaledata/ (gitignored).

Scaling strategy per table (copy k = 0..9, copy 0 is the original):
  * fact/dim keys are offset by k × (max_key + 1), consistently across
    tables (orderkey in orders+lineitem, partkey in part+lineitem,
    suppkey in supplier+lineitem, custkey in customer+orders, user_id and
    event_id in events) — so join fan-outs and group counts grow ~10×
    like real data growth, instead of 10 rows piling onto every key.
  * documents: doc_id offset; a copy-specific token is interleaved every
    3 words, so EVERY 3-gram shingle of a copy contains a copy token and
    cross-copy Jaccard ≈ 0 — replication must not fabricate near-dup
    clusters that would distort dedup scaling (a 10-member duplicate
    cluster per doc is not what +10× organic data looks like).
  * embeddings: vec_id offset; each copy's vector is rotated k dims
    (norm-preserving, decorrelates LSH buckets across copies).

Run: python tools/gen_scale.py [src_sf_dir] [out_dir] [factor] [events_mode]
events_mode: "keys" (default, denser days) or "ts" (calendar grows too)
Defaults: /root/testdata/sf0.1 .scaledata/sf1 10
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _read(src: str, t: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(src, f"{t}.parquet")).to_pandas()


def _write(df: pd.DataFrame, src: str, out: str, t: str) -> None:
    """Write table `t` under `out` with the source table's exact schema."""
    schema = pq.read_schema(os.path.join(src, f"{t}.parquet"))
    tbl = pa.Table.from_pandas(df, preserve_index=False, schema=schema)
    pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))


def _copies(df: pd.DataFrame, factor: int, strides: dict[str, int], edit=None) -> pd.DataFrame:
    """`factor` stacked copies of `df` (copy 0 is the original): copy k
    shifts every key column in `strides` by k × its stride, and
    `edit(copy, k)` may rewrite copies k ≥ 1 in place."""
    parts = []
    for k in range(factor):
        d = df.assign(**{c: df[c] + k * stride for c, stride in strides.items()})
        if k and edit is not None:
            edit(d, k)
        parts.append(d)
    return pd.concat(parts, ignore_index=True)


def _stride(df: pd.DataFrame, col: str) -> int:
    return int(df[col].max()) + 1


def scale_tpch(src: str, out: str, factor: int) -> None:
    t = {n: _read(src, n) for n in ("orders", "lineitem", "customer", "part", "supplier")}
    ok = _stride(t["orders"], "o_orderkey")
    pk = _stride(t["part"], "p_partkey")
    sk = _stride(t["supplier"], "s_suppkey")
    ck = _stride(t["customer"], "c_custkey")
    strides = {
        "orders": {"o_orderkey": ok, "o_custkey": ck},
        "lineitem": {"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk},
        "customer": {"c_custkey": ck},
        "part": {"p_partkey": pk},
        "supplier": {"s_suppkey": sk},
    }
    for name, cols in strides.items():
        _write(_copies(t[name], factor, cols), src, out, name)
    for name in ("nation", "region"):
        _write(_read(src, name), src, out, name)


def scale_events(src: str, out: str, factor: int, ts_offset: bool = False) -> None:
    """Key-offset copies by default (denser days — per-day volume grows
    with the factor, the ingest-burst regime). With ts_offset=True each
    copy is ALSO shifted forward by the full time range plus one day, so
    the CALENDAR grows linearly like organic history — the regime that
    actually stresses time-keyed state (attribution lookbacks, daily
    PSI state, dow baselines, OHLC day counts). Both regimes are real;
    the probe runner picks per question (PERF.md r9)."""
    ev = _read(src, "events")
    shift = ev["ts"].max() - ev["ts"].min() + pd.Timedelta(days=1)

    def edit(d: pd.DataFrame, k: int) -> None:
        if ts_offset:
            d["ts"] = d["ts"] + k * shift

    strides = {c: _stride(ev, c) for c in ("event_id", "user_id")}
    _write(_copies(ev, factor, strides, edit), src, out, "events")


def _edit_text(fn):
    """Copy editor: rewrite each document's text with fn(text, k), then
    keep n_chars consistent."""

    def edit(d: pd.DataFrame, k: int) -> None:
        d["text"] = d["text"].map(lambda text: fn(text, k))
        d["n_chars"] = d["text"].str.len()

    return edit


def scale_documents(src: str, out: str, factor: int) -> None:
    docs = _read(src, "documents")

    def interleave(text: str, k: int) -> str:
        tok = f"zq{k}x"  # copy token: letters+digit, no PII/lang collision
        outw = []
        for i, w in enumerate(text.split()):
            outw.append(w)
            if i % 3 == 2:
                outw.append(f"{tok}{i}")
        return " ".join(outw)

    strides = {"doc_id": _stride(docs, "doc_id")}
    _write(_copies(docs, factor, strides, _edit_text(interleave)), src, out, "documents")


def gen_dup_heavy_documents(src: str, out: str, factor: int) -> None:
    """Duplicate-HEAVY documents variant (VERDICT r5 #5): every copy k ≥ 1
    is a NEAR-DUPLICATE of the original (one word in ~30 swapped for a
    copy token), so the corpus is (factor-1)/factor near-dups in clusters
    of size `factor`. This is the regime LSH exists for — candidate-pair
    volume grows ~C(factor, 2) per cluster, i.e. quadratically in dup
    density at fixed cluster count — and is exactly the distribution the
    uniform scale probe (scale_documents above) deliberately avoids.
    Only documents.parquet is written; the dup probe needs nothing else."""
    os.makedirs(out, exist_ok=True)
    docs = _read(src, "documents")

    def mutate(text: str, k: int) -> str:
        ws = text.split()
        for i in range(14, len(ws), 30):
            ws[i] = f"dz{k}q"
        return " ".join(ws)

    strides = {"doc_id": _stride(docs, "doc_id")}
    _write(_copies(docs, factor, strides, _edit_text(mutate)), src, out, "documents")


def gen_dup_heavy_embeddings(
    src: str, out: str, factor: int, base_n: int = 500
) -> None:
    """Duplicate-HEAVY embeddings twin of :func:`gen_dup_heavy_documents`:
    every copy k ≥ 1 is a NEAR-DUPLICATE of a base vector — the base
    vector plus a deterministic small perturbation, renormalized, so
    cosine(base, copy) ≈ 0.999 (far above any dedup threshold) and the
    corpus forms clusters of size `factor`.

    The base is the FIRST `base_n` vectors, not the whole table: at the
    fixed 64-bucket LSH geometry the probe exercises, candidate volume
    is ~n²/buckets, so a full-table f=16 copy would measure bucket
    saturation instead of the C(f,2) cluster model the probe pins.
    Cluster growth is the same either way; the subsample keeps f=16
    tractable inside the bench budget."""
    os.makedirs(out, exist_ok=True)
    emb = _read(src, "embeddings").head(base_n).reset_index(drop=True)
    dim = len(emb["embedding"].iloc[0])
    rng = np.random.default_rng(8151)  # frozen seed: probe must be stable

    def perturb(d: pd.DataFrame, k: int) -> None:
        noise = rng.standard_normal((len(d), dim)).astype(np.float32) * 0.02
        vecs = np.stack(d["embedding"].to_numpy()) + noise  # (n, dim) float32
        d["embedding"] = list(vecs / np.linalg.norm(vecs, axis=1, keepdims=True))

    strides = {"vec_id": _stride(emb, "vec_id")}
    _write(_copies(emb, factor, strides, perturb), src, out, "embeddings")


def scale_embeddings(src: str, out: str, factor: int) -> None:
    emb = _read(src, "embeddings")

    def rotate(d: pd.DataFrame, k: int) -> None:
        d["embedding"] = d["embedding"].map(lambda v: np.roll(np.asarray(v), k))

    strides = {"vec_id": _stride(emb, "vec_id")}
    _write(_copies(emb, factor, strides, rotate), src, out, "embeddings")


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--dup-heavy"]
    dup_heavy = "--dup-heavy" in sys.argv[1:]
    src = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    out = argv[1] if len(argv) > 1 else ".scaledata/sf1"
    factor = int(argv[2]) if len(argv) > 2 else 10
    events_mode = argv[3] if len(argv) > 3 else "keys"
    if dup_heavy:
        gen_dup_heavy_documents(src, out, factor)
        gen_dup_heavy_embeddings(src, out, factor)
    else:
        os.makedirs(out, exist_ok=True)
        scale_tpch(src, out, factor)
        scale_events(src, out, factor, ts_offset=(events_mode == "ts"))
        scale_documents(src, out, factor)
        scale_embeddings(src, out, factor)
    for t in sorted(os.listdir(out)):
        print(t, pq.ParquetFile(os.path.join(out, t)).metadata.num_rows)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
