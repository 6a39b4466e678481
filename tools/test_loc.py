"""Tests for tools/loc.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import tempfile
import unittest

import loc


def run(argv):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = loc.main(argv)
    return code, out.getvalue().splitlines()


class LocTest(unittest.TestCase):

    def test_counts_code_lines_only(self):
        lines = ["/** doc", "  * body", "  */", "object A {", "", "  // note",
                 "  val x = 1 // trailing", "}"]
        self.assertEqual(loc.code_lines(lines), 3)

    def test_directory_recurses_into_scala_files_in_sorted_order(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "b"))
            files = {"b/Z.scala": "object Z\nval z = 1\n", "a.scala": "object A\n",
                     "b/notes.txt": "not scala\n"}
            for name, text in files.items():
                with open(os.path.join(d, name), "w", encoding="utf-8") as f:
                    f.write(text)
            code, lines = run([d])
        self.assertEqual(code, 0)
        self.assertEqual([l.split()[1] for l in lines[:-1]],
                         [os.path.join(d, "a.scala"), os.path.join(d, "b", "Z.scala")])
        self.assertEqual(lines[-1].split(), ["3", "total"])

    def test_files_and_directories_mix(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "One.scala")
            with open(path, "w", encoding="utf-8") as f:
                f.write("object One\n")
            code, lines = run([path])
            self.assertEqual((code, lines), (0, [f"{1:6d}  {path}"]))
            code, lines = run([d, path])
        self.assertEqual(lines[-1].split(), ["2", "total"])


if __name__ == "__main__":
    unittest.main()
