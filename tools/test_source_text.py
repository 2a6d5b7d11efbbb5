"""Every Scala source file is plain text: no NUL byte.

A NUL byte makes grep and ripgrep treat the whole file as binary and hide
its matches; write the character as an escape ("\\u0000") instead.

Run: python3 -m unittest discover -s tools
"""
import pathlib
import unittest

SRC = pathlib.Path(__file__).resolve().parent.parent / "src"


class SourceTextTest(unittest.TestCase):
    def test_no_nul_byte_in_scala_sources(self):
        files = sorted(SRC.rglob("*.scala"))
        self.assertTrue(files, f"no Scala sources under {SRC}")
        binary = [str(f.relative_to(SRC)) for f in files if b"\x00" in f.read_bytes()]
        self.assertEqual(binary, [], "Scala sources holding a NUL byte")


if __name__ == "__main__":
    unittest.main()
