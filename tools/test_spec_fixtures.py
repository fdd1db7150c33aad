"""The committed binary interop fixtures are what tools/spec_fixtures.py
assembles from the format specs.

    python3 -m unittest discover tools
"""
import json
import os
import shutil
import struct
import subprocess
import unittest

import spec_fixtures


class SpecFixturesTest(unittest.TestCase):

    def committed(self, rel):
        with open(os.path.join(spec_fixtures.ROOT, rel), "rb") as f:
            return f.read()

    def test_dv_and_uncompressed_puffin_reproduce_byte_for_byte(self):
        built = spec_fixtures.exact_fixtures()
        self.assertEqual(len(built), 6)
        for rel, data in built.items():
            self.assertEqual(self.committed(rel), data, rel)

    @unittest.skipUnless(shutil.which("zstd"), "needs the zstd command")
    def test_zstd_puffin_has_the_same_footer_and_payloads(self):
        # footer minus blob offsets/lengths, and the decompressed payloads
        def view(raw):
            n = len(raw)
            size = struct.unpack("<i", raw[n - 12:n - 8])[0]
            footer = json.loads(raw[n - 12 - size:n - 12])
            payloads = []
            for e in footer["blobs"]:
                blob = raw[e.pop("offset"):][:e.pop("length")]
                payloads.append(subprocess.run(
                    [shutil.which("zstd"), "-q", "-d", "-c", "-"], input=blob,
                    stdout=subprocess.PIPE, check=True).stdout)
            return footer, payloads
        rel = spec_fixtures.ZSTD_FIXTURE
        have = view(self.committed(rel))
        self.assertEqual(have, view(spec_fixtures.fixtures()[rel]))
        self.assertEqual([p.decode("utf-8") for p in have[1]],
                         [b[2] for b in spec_fixtures.SAMPLE_BLOBS])

    def test_dv_sizes_follow_the_spec_layout(self):
        # 4 length + 4 magic + 8 bitmap count + 4 CRC = 20, plus per
        # bitmap a 4-byte key and the 32-bit bitmap sized as commented
        sizes = {n: len(spec_fixtures.dv_blob(s))
                 for n, s in spec_fixtures.DV_SETS.items()}
        self.assertEqual(sizes, {
            "empty-position-index.bin": 20,
            # no-run cookie 8 + 1 key/card 4 + 1 offset 4 + 5 values 10
            "small-alternating-values-position-index.bin": 50,
            # no-run cookie 8 + 2 key/card 8 + 2 offsets 8 + 2x2 values 8
            "small-and-large-values-position-index.bin": 56,
            # 2 bitmaps: run cookie 4 + run bits 1 + 3 key/card 12
            # + array 4 + run 6 + run 6 (3 containers: no offsets)
            "all-container-types-position-index.bin": 94,
        })


if __name__ == "__main__":
    unittest.main()
