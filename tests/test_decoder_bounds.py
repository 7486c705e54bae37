"""Header-declared sizes must be bounded by the stream before they size
an allocation: a one-bit flip in a width field (QOI 4 -> 0x80000004)
once asked numpy for 24 GiB and died with MemoryError instead of the
decoders' ValueError contract.

Each corrupt stream is decoded in a subprocess whose address space is
capped a little above what it already maps, so ANY large allocation
fails there, even on a host with RAM enough to overcommit it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROG = r"""
import json, resource, struct, sys, time
import numpy as np
from ecmm428_pycart_spark.datapipe import multimodal as M

def flip(b, at, mask):
    c = bytearray(b)
    c[at] ^= mask
    return bytes(c)

def patch(b, at, raw):
    return b[:at] + raw + b[at + len(raw):]

img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
png = bytearray(M.png_bytes_rgb(img))
png[28] = 1                                 # IHDR interlace -> Adam7
y = ((np.arange(256).reshape(16, 16) * 3) % 251).astype(np.uint8)
cb = (np.arange(64).reshape(8, 8) % 151).astype(np.uint8) + 100
gray = M.encode_jpeg_gray(y)
color = M.encode_jpeg_color(y, cb, cb)
sof_gray = gray.index(b"\xff\xc0") + 5    # SOF0 height, width fields
sof_color = color.index(b"\xff\xc0") + 5
# 16-bit size fields cannot reach 24 GiB by one flip, so those headers
# declare the largest size their fields hold (4-13 GiB of pixels)
cases = {
    "qoi_width": (flip(M.qoi_bytes_rgb(img), 4, 0x80), M.decode_qoi_pixels),
    "png_adam7_width": (flip(bytes(png), 16, 0x80), M.decode_png_pixels),
    "jpeg_gray_size": (patch(gray, sof_gray, b"\xff" * 4),
                       M.decode_jpeg_gray),
    "jpeg_color_size": (patch(color, sof_color, b"\xff\xf0" * 2),
                        M.decode_jpeg_color),
    "tga_size": (patch(M.tga_bytes_rle(img), 12, b"\xff" * 4),
                 M.decode_tga_pixels),
}
with open("/proc/self/status") as f:
    vm = next(int(l.split()[1]) for l in f if l.startswith("VmSize:"))
cap = vm * 1024 + (256 << 20)
resource.setrlimit(resource.RLIMIT_AS, (cap, cap))
out = {}
for name, (buf, dec) in cases.items():
    t0 = time.perf_counter()
    try:
        dec(buf)
        res = "decoded"
    except Exception as e:
        res = type(e).__name__
    out[name] = [res, time.perf_counter() - t0]
print(json.dumps(out))
"""


def test_corrupt_header_sizes_raise_fast_without_allocating():
    env = {**os.environ, "PYTHONPATH": REPO, "OMP_NUM_THREADS": "1",
           "OPENBLAS_NUM_THREADS": "1"}
    proc = subprocess.run([sys.executable, "-c", _PROG], cwd=REPO,
                          env=env, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode == 0, proc.stderr[-2000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, (res, secs) in results.items():
        assert res == "ValueError", (name, res)
        assert secs < 1.0, (name, secs)
