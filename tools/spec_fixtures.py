#!/usr/bin/env python3
"""Assemble the binary interop fixtures from the format specs alone.

Writes the seven files that ReferenceBinaryFixtureSpec reads when no
reference checkout is present, under the reference's own file names:

  src/test/resources/iceberg-spec/deletes/*-position-index.bin
      deletion-vector-v1 blobs (format/puffin-spec.md): a 4-byte BE
      length of magic + vector, the magic D1 D3 39 64, the vector as a
      portable Roaring64 (8-byte LE bitmap count, then per bitmap a
      4-byte LE high key and a 32-bit portable Roaring bitmap as
      RoaringFormatSpec lays it out), and a BE CRC-32 of magic + vector.
  src/test/resources/iceberg-spec/puffin/v1/*.bin
      Puffin containers (format/puffin-spec.md): PFA1, blobs, PFA1,
      JSON footer, footer size (i32 LE), flags 0, PFA1.

Only the Python standard library and the `zstd` command line tool (for
the zstd-compressed blobs) are used; nothing here calls graft's or
RoaringBitmap's writers, so the tests compare graft against the spec.

    python3 tools/spec_fixtures.py   # (re)write the fixtures

The DV files and the uncompressed Puffin files are reproduced byte for
byte. The zstd frames may differ between zstd versions, the payloads
they decompress to may not; tools/test_spec_fixtures.py checks both.
"""
import json
import os
import shutil
import struct
import subprocess
import sys
import zlib

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "test", "resources", "iceberg-spec")

# ---------------------------------------------------------------- roaring

SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE = 12347
NO_OFFSET_THRESHOLD = 4
ARRAY_MAX = 4096  # larger containers are bitsets before run-optimize


def runs_of(values):
    """[(start, last)] runs of a sorted list of distinct ints"""
    out = []
    for v in values:
        if out and out[-1][1] + 1 == v:
            out[-1][1] = v
        else:
            out.append([v, v])
    return out


def container(values):
    """(is_run, body bytes) for one sorted 16-bit container: the smaller
    of run and array/bitset, keeping array/bitset on a tie (run-optimize)"""
    runs = runs_of(values)
    run_size = 2 + 4 * len(runs)
    if len(values) <= ARRAY_MAX:
        plain = struct.pack("<%dH" % len(values), *values)
    else:
        words = [0] * 1024
        for v in values:
            words[v >> 6] |= 1 << (v & 63)
        plain = struct.pack("<1024Q", *words)
    if run_size < len(plain):
        body = struct.pack("<H", len(runs)) + b"".join(
            struct.pack("<HH", s, e - s) for s, e in runs)
        return True, body
    return False, plain


def roaring32(values):
    """portable 32-bit Roaring bitmap (RoaringFormatSpec) of sorted ints"""
    groups = {}
    for v in values:
        groups.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(groups)
    conts = [(k, len(groups[k])) + container(groups[k]) for k in keys]
    n = len(conts)
    has_run = any(c[2] for c in conts)
    if has_run:
        head = struct.pack("<HH", SERIAL_COOKIE, n - 1)
        bits = bytearray((n + 7) // 8)
        for i, c in enumerate(conts):
            if c[2]:
                bits[i // 8] |= 1 << (i % 8)
        head += bytes(bits)
    else:
        head = struct.pack("<II", SERIAL_COOKIE_NO_RUN, n)
    head += b"".join(struct.pack("<HH", k, card - 1) for k, card, _, _ in conts)
    if not has_run or n >= NO_OFFSET_THRESHOLD:
        offset = len(head) + 4 * n
        for _, _, _, body in conts:
            head += struct.pack("<I", offset)
            offset += len(body)
    return head + b"".join(c[3] for c in conts)


def roaring64(positions):
    """portable Roaring64: LE bitmap count, then (LE high key, bitmap)"""
    highs = {}
    for p in sorted(set(positions)):
        highs.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = struct.pack("<Q", len(highs))
    for h in sorted(highs):
        out += struct.pack("<I", h) + roaring32(highs[h])
    return out


DV_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])


def dv_blob(positions):
    body = DV_MAGIC + roaring64(positions)
    return (struct.pack(">I", len(body)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))


# The position sets of the reference's TestBitmapPositionDeleteIndex.
BITMAP = 1 << 32
CONTAINER = 1 << 16


def all_container_types():
    def pos(b, c, v):
        return b * BITMAP + c * CONTAINER + v
    out = [pos(0, 0, 5), pos(0, 0, 7)]
    out += [pos(0, 1, v) for v in range(1, 1000)]
    out += [pos(0, 2, v) for v in range(1, CONTAINER - 1)]
    out += [pos(1, 0, 10), pos(1, 0, 20)]
    out += [pos(1, 1, v) for v in range(10, 500)]
    out += [pos(1, 2, v) for v in range(1, CONTAINER - 1)]
    return out


INT_MAX = (1 << 31) - 1
DV_SETS = {
    "empty-position-index.bin": [],
    "small-alternating-values-position-index.bin": [1, 3, 5, 7, 9],
    "small-and-large-values-position-index.bin":
        [100, 101, INT_MAX + 100, INT_MAX + 101],
    "all-container-types-position-index.bin": all_container_types(),
}

# ---------------------------------------------------------------- puffin

PUFFIN_MAGIC = b"PFA1"
# The blobs of the reference's TestPuffinReader sample files.
SAMPLE_BLOBS = [
    ("some-blob", [1], "abcdefghi"),
    ("some-other-blob", [2],
     "some blob \u0000 binary data \U0001F92F that is not very very very "
     "very very very long, is it?"),
]
SAMPLE_PROPS = {"created-by": "Test 1234"}


def zstd_compress(data):
    exe = shutil.which("zstd")
    if exe is None:
        sys.exit("spec_fixtures: the zstd command line tool is not on PATH")
    return subprocess.run([exe, "-q", "-c", "-"], input=data,
                          stdout=subprocess.PIPE, check=True).stdout


def puffin(blobs, properties=None, codec=None):
    """Puffin container of (type, fields, payload str) blobs, snapshot id 2
    and sequence number 1 as in the reference samples"""
    out = bytearray(PUFFIN_MAGIC)
    meta = []
    for tpe, fields, text in blobs:
        data = text.encode("utf-8")
        if codec == "zstd":
            data = zstd_compress(data)
        entry = {"type": tpe, "fields": fields, "snapshot-id": 2,
                 "sequence-number": 1, "offset": len(out),
                 "length": len(data)}
        if codec:
            entry["compression-codec"] = codec
        meta.append(entry)
        out += data
    footer = {"blobs": meta}
    if properties:
        footer["properties"] = properties
    payload = json.dumps(footer).encode("utf-8")
    out += PUFFIN_MAGIC + payload + struct.pack("<ii", len(payload), 0)
    out += PUFFIN_MAGIC
    return bytes(out)


V1 = os.path.join("puffin", "v1")
ZSTD_FIXTURE = os.path.join(V1, "sample-metric-data-compressed-zstd.bin")


def exact_fixtures():
    """{relative path: bytes} of the six fixtures that do not depend on
    the zstd version"""
    out = {os.path.join("deletes", n): dv_blob(s) for n, s in DV_SETS.items()}
    out[os.path.join(V1, "empty-puffin-uncompressed.bin")] = puffin([])
    out[os.path.join(V1, "sample-metric-data-uncompressed.bin")] = \
        puffin(SAMPLE_BLOBS, SAMPLE_PROPS)
    return out


def fixtures():
    """{relative path: bytes} of all seven fixtures"""
    out = exact_fixtures()
    out[ZSTD_FIXTURE] = puffin(SAMPLE_BLOBS, SAMPLE_PROPS, codec="zstd")
    return out


def main():
    for rel, data in sorted(fixtures().items()):
        path = os.path.join(ROOT, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        print("%-55s %d bytes" % (rel, len(data)))


if __name__ == "__main__":
    main()
