"""Byte-level pins of the multimodal codecs (no Spark).

Each codec family encodes a fixed set of random, flat and structured
images and decodes the result; one SHA-256 per family covers every
encoder's bytes and every decoder's full output (pixels, shapes and
counts). The digests were taken from the codecs before their decoders
were merged into one T.81 implementation, so any refactor of the
marker walk, entropy layer, header writer or GIF container walk that
changes a single byte or pixel fails here, naming the family.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from cassandra_sql_spark.pipeline import multimodal as mm

PINNED = {
    "color_joined_dqt": "c3e368a3f9226434f0647c546910d5ade07dc267d7be2e2b65f38cbd8a7b4200",
    "color_split_dqt": "8133c5771483f7be031979b41d7a45655da3823812b1ac9d2837fa40231e2de5",
    "com_spliced": "762cb456fe01e7b3544d4a111894f2d229e0f526ab98bfdfd0ad6be8f4bae7c1",
    "gif": "175f11b9ed3da489799624b100f81dd2e6947e78a1b0e351aa5da8a7831b0294",
    "gif_animated": "91c2aeb76c36c92874bf1f29c25ec5da7b86127d566d42cde8e6c40716c4a302",
    "gray": "f63fb24e798d73f2067577f8311adf28a820df5621831bbb23817e213f596267",
    "progressive": "2bd227d8a56379323e4c75ef66a1ecd9eb0a6d3e55a38d46c4ac3065ab00b383",
    "restart": "61469eb6b3351454904c7f4561f2728b9edae39f3190106dd0d5cdadc41fa15a",
}


def _feed(h, x) -> None:
    if isinstance(x, np.ndarray):
        h.update(f"A{x.dtype.str}{x.shape}".encode())
        h.update(np.ascontiguousarray(x).tobytes())
    elif isinstance(x, (bytes, bytearray)):
        h.update(b"B%d:" % len(x))
        h.update(bytes(x))
    elif isinstance(x, (list, tuple)):
        h.update(b"L%d:" % len(x))
        for y in x:
            _feed(h, y)
    elif x is None:
        h.update(b"N")
    else:
        h.update(b"I%d;" % int(x))


def _digest(items) -> str:
    h = hashlib.sha256()
    _feed(h, items)
    return h.hexdigest()


def _gray_images(blocks=(1, 2, 3)):
    rng = np.random.default_rng(20)
    out = []
    for bh in blocks:
        for bw in blocks:
            out.append(rng.integers(0, 256, (bh * 8, bw * 8), np.uint8))
    flat = np.zeros((16, 24), np.uint8)
    for i, v in enumerate((40, 121, 202, 238, 65, 90)):
        by, bx = divmod(i, 3)
        flat[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = v
    out.append(flat)
    out.append(np.full((8, 16), 255, np.uint8))
    y, x = np.mgrid[0:24, 0:32]
    out.append(((y * 5 + x * 3) % 256).astype(np.uint8))
    sparse = np.zeros((24, 24), np.uint8)
    sparse[::8, ::8] = 200
    out.append(sparse)
    return out


def _color_images():
    rng = np.random.default_rng(21)
    out = [
        rng.integers(0, 256, (16 * mh, 16 * mw, 3), np.uint8)
        for mh in (1, 2, 3) for mw in (1, 2, 3)
    ]
    flat = np.zeros((32, 32, 3), np.uint8)
    for i, c in enumerate(((200, 30, 60), (20, 180, 240), (90, 90, 90),
                           (250, 10, 130))):
        mi, mj = divmod(i, 2)
        flat[mi * 16:(mi + 1) * 16, mj * 16:(mj + 1) * 16] = c
    out.append(flat)
    y, x = np.mgrid[0:32, 0:32]
    out.append(np.stack([(y * 4 + x * 3) % 256, (y * 2 + x * 5) % 256,
                         (y * 3 + x * 2) % 256], axis=2).astype(np.uint8))
    return out


def _com(p: bytes) -> bytes:
    body = b"pinned comment"
    seg = b"\xff\xfe" + struct.pack(">H", len(body) + 2) + body
    return p[:2] + seg + p[2:]


def _family(name: str) -> list:
    items: list = []
    if name == "gray":
        for img in _gray_images():
            for qs in (1, 3, 8):
                p = mm.jpeg_encode_gray(img, qscale=qs)
                items += [p, mm.jpeg_decode_gray(p)]
    elif name in ("color_joined_dqt", "color_split_dqt"):
        for img in _color_images():
            p = mm.jpeg_encode_color(img, split_dqt=name == "color_split_dqt")
            items += [p, mm.jpeg_decode_color(p)]
    elif name == "progressive":
        for img in _gray_images():
            for qs in (1, 3, 8):
                p = mm.jpeg_encode_gray_progressive(img, qscale=qs)
                items += [p, mm.jpeg_decode_gray_progressive(p)]
    elif name == "restart":
        grays = _gray_images(blocks=(2, 3))[:3]
        colors = _color_images()[3:6]
        for ri in (0, 1, 2, 3, 5):
            for img in grays:
                p = mm.jpeg_encode_gray(img, restart_interval=ri)
                items += [p, mm.jpeg_decode_gray(p)]
                p = mm.jpeg_encode_gray_progressive(img, restart_interval=ri)
                items += [p, mm.jpeg_decode_gray_progressive(p)]
            for img in colors:
                p = mm.jpeg_encode_color(img, restart_interval=ri)
                items += [p, mm.jpeg_decode_color(p)]
    elif name == "com_spliced":
        for img in _gray_images(blocks=(1, 2))[:4]:
            p = _com(mm.jpeg_encode_gray(img, restart_interval=2))
            items += [p, mm.jpeg_decode_gray(p)]
            p = _com(mm.jpeg_encode_gray_progressive(img))
            items += [p, mm.jpeg_decode_gray_progressive(p)]
        for img in _color_images()[:3]:
            p = _com(mm.jpeg_encode_color(img, split_dqt=True))
            items += [p, mm.jpeg_decode_color(p)]
    elif name == "gif":
        rng = np.random.default_rng(22)
        for t in range(30):
            nc = 4 << (t % 3)
            h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
            idx = rng.integers(0, nc, (h, w)).astype(np.uint8)
            if t % 4 == 3:
                idx[:] = t % nc  # flat image: KwKwK runs
            pal = rng.integers(0, 256, (nc, 3)).astype(np.uint8)
            is89 = t % 2 == 1
            p = mm.gif_encode(
                idx, pal, version=b"89a" if is89 else b"87a",
                comment=b"c" * (t * 40) if is89 else None,
                max_sub_block=int(rng.integers(1, 256)),
            )
            items += [p, mm.gif_decode(p)]
    elif name == "gif_animated":
        rng = np.random.default_rng(23)
        for t in range(12):
            nc = 4 << (t % 3)
            pal = rng.integers(0, 256, (nc, 3)).astype(np.uint8)
            n = 1 + t % 4
            frames = [
                rng.integers(0, nc, (6, 9)).astype(np.uint8) if (t + f) % 2
                else np.full((6, 9), (t + f) % nc, np.uint8)
                for f in range(n)
            ]
            p = mm.gif_encode_animated(
                frames, pal, [3 + f for f in range(n)], loop_count=t,
                max_sub_block=3 + t,
            )
            items += [p, mm.gif_decode_animated(p)]
    return items


@pytest.mark.parametrize("family", sorted(PINNED))
def test_codec_bytes_and_pixels_are_pinned(family):
    assert _digest(_family(family)) == PINNED[family], family
