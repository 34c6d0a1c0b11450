#!/usr/bin/env python3
"""Unit tests for loc.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import loc

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loc.py")


class CountLinesTest(unittest.TestCase):
    def test_blank_and_line_comments_are_excluded(self):
        src = "package a\n\n   \n// note\n  // indented note\nobject A\n"
        self.assertEqual(loc.count_lines(src), 2)

    def test_block_and_scaladoc_lines_are_excluded(self):
        src = ("/** Doc\n  * more\n  */\nval x = 1\n"
               "/* one-line block */\n  /*\n   nested text\n  */\nval y = 2\n")
        self.assertEqual(loc.count_lines(src), 2)

    def test_code_after_a_closing_block_counts(self):
        src = "/* lead\n */ val x = 1\n/* c */ val y = 2\n/* a */ /* b */\n"
        self.assertEqual(loc.count_lines(src), 2)

    def test_comment_after_a_closing_block_does_not_count(self):
        src = "/* lead\n */ // trailing\n/* c */\n"
        self.assertEqual(loc.count_lines(src), 0)

    def test_trailing_comments_do_not_hide_code(self):
        src = "val x = 1 // why\nval y = 2 /* why */\n"
        self.assertEqual(loc.count_lines(src), 2)


class TreeTest(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp(prefix="loc-test")
        for tree, body in (("src/main/scala/a", "object A\n// c\n"),
                           ("src/test/scala/a", "/** d */\nclass T\nval t = 1\n"),
                           ("scaling/src/main/scala/a", "object S\n"),
                           ("scaling/src/test/scala/a", "class U\n/* x */\n")):
            os.makedirs(os.path.join(self.root, tree))
            with open(os.path.join(self.root, tree, "A.scala"), "w") as f:
                f.write(body)
        # a non-Scala file never counts
        with open(os.path.join(self.root, "src/main/scala/a/x.md"), "w") as f:
            f.write("text\n")

    def tearDown(self):
        shutil.rmtree(self.root)

    def test_cli_prints_every_tree(self):
        out = subprocess.run([sys.executable, SCRIPT, self.root],
                             capture_output=True, text=True, check=True)
        self.assertEqual(out.stdout.split("\n")[:3],
                         ["src/main  1", "src/test  2", "scaling/src  2"])

    def test_a_move_into_scaling_shows_on_both_sides(self):
        src = os.path.join(self.root, "src/main/scala/a/A.scala")
        os.rename(src, os.path.join(self.root,
                                    "scaling/src/main/scala/a/Moved.scala"))
        out = subprocess.run([sys.executable, SCRIPT, self.root],
                             capture_output=True, text=True, check=True)
        self.assertEqual(out.stdout.split("\n")[:3],
                         ["src/main  0", "src/test  2", "scaling/src  3"])

    def test_cli_counts_named_files(self):
        out = subprocess.run(
            [sys.executable, SCRIPT, self.root,
             "src/test/scala/a/A.scala"],
            capture_output=True, text=True, check=True)
        self.assertEqual(out.stdout.split("\n")[:2],
                         ["src/test/scala/a/A.scala  2", "total  2"])


if __name__ == "__main__":
    unittest.main()
