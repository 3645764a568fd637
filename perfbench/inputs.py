"""Seeded benchmark inputs, generated before any clock starts.

Everything here is plain numpy/pyarrow and owns its own codecs: the images
are standard PNG files written by :func:`encode_png`, their perceptual hash
comes from :func:`phash_ref`, and the CDC dumps are Datastream-envelope JSON.
Nothing imports the engine, so a change to the engine's own generator or
codecs cannot change what the benchmark feeds it.

Inputs are cached on disk under ``<cache>/<workload>-s<seed>-<spec digest>``
and carry a SHA-256 digest of their logical content, recorded in every run's
output, so two runs can prove they consumed identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

IMAGE_COLUMNS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
_WORDS = (
    "quiet bright crimson golden distant small vast frozen mountain river "
    "city forest harbor sky lantern bridge garden temple fox crane owl "
    "tiger whale dancer sailor painter above beneath beside beyond under"
).split()
_CITIES = ("oslo", "lima", "kyoto", "perth", "quito", "accra", "turin", "hanoi")


# --------------------------------------------------------------------- images
def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(px: np.ndarray, filter_type: int) -> bytes:
    """RGB8 pixels (h, w, 3) -> PNG bytes, every scanline using one filter
    (0 None, 1 Sub, 2 Up), so decoding exercises the matching unfilter."""
    h, w, _ = px.shape
    rows = px.reshape(h, w * 3).astype(np.int16)
    if filter_type == 1:
        rows = rows - np.concatenate([np.zeros((h, 3), np.int16), rows[:, :-3]], axis=1)
    elif filter_type == 2:
        rows = rows - np.concatenate([np.zeros((1, w * 3), np.int16), rows[:-1]], axis=0)
    raw = np.empty((h, w * 3 + 1), np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = (rows & 0xFF).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def _dct32() -> np.ndarray:
    k = np.arange(32)[:, None]
    n = np.arange(32)[None, :]
    d = np.sqrt(2 / 32) * np.cos(np.pi * (2 * n + 1) * k / 64)
    d[0] /= np.sqrt(2)
    return d


_DCT = _dct32()


def phash_ref(px: np.ndarray) -> int:
    """Reference 64-bit DCT perceptual hash of RGB8 pixels: channel-sum
    grayscale, 32x32 block means (exact integer box sums), 2-D DCT-II, the
    top-left 8x8 block without its DC term thresholded at its median, bits
    packed MSB-first into a signed 64-bit integer."""
    gray = px[:, :, 0].astype(np.int64) + px[:, :, 1] + px[:, :, 2]
    h, w = gray.shape
    ys = (np.arange(33) * h) // 32
    xs = (np.arange(33) * w) // 32
    sat = np.zeros((h + 1, w + 1), np.int64)
    sat[1:, 1:] = gray.cumsum(0).cumsum(1)
    box = (
        sat[ys[1:, None], xs[None, 1:]]
        - sat[ys[:-1, None], xs[None, 1:]]
        - sat[ys[1:, None], xs[None, :-1]]
        + sat[ys[:-1, None], xs[None, :-1]]
    )
    area = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    small = box / np.maximum(area, 1)
    coeffs = (_DCT @ small @ _DCT.T)[:8, :8].flatten()[1:]
    bits = coeffs > np.median(coeffs)
    value = int.from_bytes(np.packbits(bits).tobytes(), "big") >> 1
    return value - (1 << 63) if value >= (1 << 63) else value


def _pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 255 // max(w - 1, 1) + yy * 96 // max(h - 1, 1)) % 256
    img = np.stack([base, 255 - base, (base * 3) % 256], axis=2).astype(np.int16)
    for _ in range(int(rng.integers(2, 6))):
        y0, x0 = int(rng.integers(0, h - 2)), int(rng.integers(0, w - 2))
        y1 = y0 + int(rng.integers(2, h // 2 + 2))
        x1 = x0 + int(rng.integers(2, w // 2 + 2))
        img[y0:y1, x0:x1] = rng.integers(0, 256, size=3)
    img += rng.integers(-6, 7, size=img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def image_row(rng: np.random.Generator, image_id: str, min_px: int, max_px: int) -> dict:
    w = int(rng.integers(min_px, max_px + 1))
    h = int(rng.integers(min_px, max_px + 1))
    px = _pixels(rng, w, h)
    caption = " ".join(_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), int(rng.integers(4, 10))))
    return {
        "image_id": image_id,
        "bytes": encode_png(px, int(rng.integers(0, 3))),
        "w": w,
        "h": h,
        "fmt": "png",
        "caption": caption,
        "phash": phash_ref(px),
    }


def image_id(seed: int, i: int) -> str:
    return hashlib.sha1(f"img:{seed}:{i}".encode()).hexdigest()[:16]


# ----------------------------------------------------------------- digesting
class Digest:
    """SHA-256 over the logical content of the generated inputs."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, obj) -> None:
        if isinstance(obj, (bytes, bytearray)):
            self._h.update(len(obj).to_bytes(8, "little"))
            self._h.update(obj)
        else:
            self.add(json.dumps(obj, sort_keys=True, default=_json_bytes).encode())

    def hexdigest(self) -> str:
        return self._h.hexdigest()


def _json_bytes(v):
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(v).hexdigest()
    raise TypeError(type(v))


# ------------------------------------------------------------------- caching
def cached(cache_root: str, workload: str, seed: int, spec: dict, build) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` for the inputs of ``(workload, seed,
    spec)``, calling ``build(tmp_dir) -> manifest`` only on a cache miss.
    The manifest must hold a ``digest``; it is written last, so a directory
    without one is an interrupted build and is rebuilt."""
    key = hashlib.sha256(
        json.dumps({"v": GENERATOR_VERSION, "spec": spec}, sort_keys=True).encode()
    ).hexdigest()[:12]
    final = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return final, json.load(f)
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, manifest


def write_image_parquet(path: str, rows: list[dict], extra: dict[str, list] | None = None) -> None:
    cols = {c: [r[c] for r in rows] for c in IMAGE_COLUMNS}
    table = pa.table(
        {
            "image_id": pa.array(cols["image_id"], pa.string()),
            "bytes": pa.array(cols["bytes"], pa.binary()),
            "w": pa.array(cols["w"], pa.int32()),
            "h": pa.array(cols["h"], pa.int32()),
            "fmt": pa.array(cols["fmt"], pa.string()),
            "caption": pa.array(cols["caption"], pa.string()),
            "phash": pa.array(cols["phash"], pa.int64()),
            **(extra or {}),
        }
    )
    pq.write_table(table, path)


# ------------------------------------------------------------------ CDC dumps
def _iso(ms: int) -> str:
    s, milli = divmod(ms, 1000)
    return np.datetime_as_string(np.datetime64(s, "s")) + f".{milli:03d}Z"


class CdcGenerator:
    """Datastream-envelope events for one keyed MySQL-sourced table.

    Event timestamps increase strictly across the run, except *stale*
    events, which re-send a live key with a timestamp older than its
    current row and must be discarded by the merge guard. Stale events are
    only aimed at keys that are live when their dump starts, and every
    in-dump duplicate shares its predecessor's timestamp with a later log
    position, so last-writer-wins over (source_timestamp, log_position)
    across every published event is the exact expected table."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(np.random.PCG64(seed * 7919 + 17))
        self.seed = seed
        self.next_key = 0
        self.clock_ms = T0_MS
        self.position = 0
        self.live: dict[str, int] = {}  # key -> ts_ms of its current row
        self.live_list: list[str] = []

    def _key(self) -> str:
        k = f"k{self.seed:x}-{self.next_key:07d}"
        self.next_key += 1
        return k

    def _event(self, key: str, ts_ms: int, kind: str) -> dict:
        self.position += 1
        rng = self.rng
        deleted = kind == "DELETE"
        return {
            "uuid": f"ev-{self.seed}-{self.position}",
            "read_timestamp": _iso(ts_ms + 5),
            "source_timestamp": _iso(ts_ms),
            "object": "shop.accounts",
            "read_method": "mysql-cdc-binlog",
            "stream_name": "projects/0/locations/local/streams/bench",
            "schema_key": "accounts-v1",
            "source_metadata": {
                "table": "accounts",
                "database": "shop",
                "primary_keys": ["id"],
                "log_file": "mysql-bin.000001",
                "log_position": self.position,
                "change_type": kind,
                "is_deleted": deleted,
            },
            "payload": {
                "id": key,
                "name": " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), 2)),
                "city": _CITIES[int(rng.integers(0, len(_CITIES)))],
                "balance": int(rng.integers(-10**6, 10**9)),
                "active": bool(rng.random() < 0.8),
            },
        }

    def _tick(self) -> int:
        self.clock_ms += int(self.rng.integers(1, 40))
        return self.clock_ms

    def _set_live(self, key: str, ts: int) -> None:
        if key not in self.live:
            self.live_list.append(key)
        self.live[key] = ts

    def base(self, n: int) -> list[dict]:
        events = []
        for _ in range(n):
            key, ts = self._key(), self._tick()
            events.append(self._event(key, ts, "INSERT"))
            self._set_live(key, ts)
        return events

    def dump(self, n: int) -> list[dict]:
        """One minute's dump of ``n`` events: about 40% updates, 20%
        inserts, 20% deletes, 10% in-dump duplicates, 6% stale events and
        4% deletes of never-seen keys."""
        rng = self.rng
        start_live = dict(self.live)
        events: list[dict] = []
        touched: list[tuple[str, int, str]] = []
        for _ in range(n):
            r = rng.random()
            if r < 0.10 and touched:
                key, ts, kind = touched[int(rng.integers(0, len(touched)))]
                kind = "UPDATE-INSERT" if kind == "INSERT" else kind
                events.append(self._event(key, ts, kind))
                continue
            if r < 0.16 and start_live:
                key = self.live_list[int(rng.integers(0, len(self.live_list)))]
                if key in start_live:
                    events.append(self._event(key, start_live[key] - 1, "UPDATE-INSERT"))
                    continue
            if r < 0.20:
                key, ts = f"ghost{self.seed:x}-{self.position}", self._tick()
                events.append(self._event(key, ts, "DELETE"))
                continue
            ts = self._tick()
            if r < 0.40 or not self.live_list:
                key, kind = self._key(), "INSERT"
                self._set_live(key, ts)
            elif r < 0.60:
                idx = int(rng.integers(0, len(self.live_list)))
                key, kind = self.live_list[idx], "DELETE"
                self.live_list[idx] = self.live_list[-1]
                self.live_list.pop()
                del self.live[key]
            else:
                key, kind = self.live_list[int(rng.integers(0, len(self.live_list)))], "UPDATE-INSERT"
                self._set_live(key, ts)
            events.append(self._event(key, ts, kind))
            touched.append((key, ts, kind))
        return events


# -------------------------------------------------------------- image tables
def build_image_inputs(
    out_dir: str,
    seed: int,
    n_base: int,
    n_batches: int,
    per_kind: int,
    min_px: int,
    max_px: int,
) -> dict:
    """``base.parquet`` with ``n_base`` images plus ``n_batches`` change
    batches ``batch-NNN.parquet``, each with ``per_kind`` updates, inserts
    and deletes of distinct keys (inserts equal deletes, so the table
    size stays flat). Update and delete targets are live when their batch
    is applied in order."""
    rng = np.random.default_rng(np.random.PCG64(seed * 104_729 + 3))
    digest = Digest()
    base = [image_row(rng, image_id(seed, i), min_px, max_px) for i in range(n_base)]
    write_image_parquet(os.path.join(out_dir, "base.parquet"), base)
    for r in base:
        digest.add(r)
    live = [r["image_id"] for r in base]
    next_i = n_base
    for b in range(n_batches):
        picks = rng.choice(len(live), size=2 * per_kind, replace=False)
        upd = [live[int(i)] for i in picks[:per_kind]]
        dele = [live[int(i)] for i in picks[per_kind:]]
        ins = [image_id(seed, next_i + j) for j in range(per_kind)]
        next_i += per_kind
        rows, kinds = [], []
        for key in upd + ins:
            rows.append(image_row(rng, key, min_px, max_px))
            kinds.append("UPDATE-INSERT" if key in upd else "INSERT")
        for key in dele:
            rows.append(dict.fromkeys(IMAGE_COLUMNS, None) | {"image_id": key})
            kinds.append("DELETE")
        order = rng.permutation(len(rows))
        rows = [rows[int(i)] for i in order]
        kinds = [kinds[int(i)] for i in order]
        ts0 = (T0_MS + (b + 1) * 3_600_000) * 1000
        extra = {
            "change_type": pa.array(kinds, pa.string()),
            "is_deleted": pa.array([k == "DELETE" for k in kinds], pa.bool_()),
            "source_timestamp": pa.array(
                [ts0 + j for j in range(len(rows))], pa.timestamp("us", tz="UTC")
            ),
            "change_seq": pa.array(
                [(b + 1) * 1_000_000 + j for j in range(len(rows))], pa.int64()
            ),
        }
        write_image_parquet(os.path.join(out_dir, f"batch-{b:03d}.parquet"), rows, extra)
        for r, k in zip(rows, kinds):
            digest.add([k, r])
        dead = set(dele)
        live = [k for k in live if k not in dead] + ins
    return {"digest": digest.hexdigest(), "n_base": n_base, "n_batches": n_batches}
