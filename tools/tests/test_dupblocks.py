"""tools/dupblocks.py: which lines it counts as copies.

    python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import re
import sys
import tempfile
import unittest
from pathlib import Path
from unittest import mock

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import dupblocks  # noqa: E402

# five code lines, together far longer than the 75-character floor
BLOCK = [f"val plantedValue{i} = someLongFunctionName(argumentNumber{i}, {i})"
         for i in range(5)]
# five code lines, together shorter than the floor
SHORT = ["a()", "b()", "c()", "d()", "e()"]
# five comment lines of every dropped kind, long enough to count as code
COMMENT = ["// " + "a line comment that is long enough to pass the floor",
           "/** " + "a doc comment opening that is long enough as well",
           "  * " + "a doc comment body line that is long enough as well",
           "  * " + "another doc comment body line that is long enough",
           "// " + "a closing line comment that is long enough as well"]


def run(root):
    """(marked runs as (file, first line, last line, lines), per-file
    counts, total) from one dupblocks run over `root`."""
    out = io.StringIO()
    with mock.patch.object(sys, "argv", ["dupblocks.py", str(root)]), \
            contextlib.redirect_stdout(out):
        dupblocks.main()
    runs, counts, total = [], {}, None
    for line in out.getvalue().splitlines():
        m = re.match(r"^(\S+):(\d+)(?:-(\d+))?  \((\d+) lines\)$", line)
        if m:
            runs.append((m[1], int(m[2]), int(m[3] or m[2]), int(m[4])))
            continue
        m = re.match(r"^\s*(\d+)  (\S+)$", line)
        if m and m[2] == "total":
            total = int(m[1])
        elif m:
            counts[m[2]] = int(m[1])
    return runs, counts, total


class DupBlocksTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = Path(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, lines):
        (self.root / name).write_text("\n".join(lines) + "\n")

    def test_planted_copy_is_counted_and_the_original_is_not(self):
        self.write("a.scala", ["object A {", *BLOCK, "val tailA = 1", "}"])
        self.write("b.scala", ["object B {", "val headB = 2", *BLOCK,
                               "val tailB = 2", "}"])
        runs, counts, total = run(self.root)
        # b.scala lines 3-7 hold the copy; a.scala holds the original
        self.assertEqual(runs, [("b.scala", 3, 7, 5)])
        self.assertEqual(counts, {"b.scala": 5})
        self.assertEqual(total, 5)

    def test_comments_and_short_windows_are_ignored(self):
        self.write("a.scala", ["object A {", *COMMENT, *SHORT, *BLOCK, "}"])
        # the comment block and the short block repeat verbatim; a comment
        # line inside the copied block does not split the run
        self.write("b.scala", ["object B {", *COMMENT, *SHORT, "val x = 0",
                               *BLOCK[:2], "// an interleaved remark",
                               *BLOCK[2:], "val y = 0", "}"])
        runs, counts, total = run(self.root)
        self.assertEqual(runs, [("b.scala", 13, 18, 5)])
        self.assertEqual(counts, {"b.scala": 5})
        self.assertEqual(total, 5)

    def test_per_file_totals_add_up(self):
        self.write("a.scala", ["object A {", *BLOCK, "val tailA = 1", "}"])
        self.write("b.scala", ["object B {", "val headB = 2", *BLOCK,
                               "val tailB = 2", "}"])
        # two copies in one file; the second runs on past the block,
        # because b.scala holds its neighbours too
        self.write("c.scala", ["object C {", *BLOCK, "val midC = 3",
                               "val headB = 2", *BLOCK, "val tailB = 2",
                               "}"])
        runs, counts, total = run(self.root)
        self.assertEqual(runs, [("b.scala", 3, 7, 5), ("c.scala", 2, 6, 5),
                                ("c.scala", 8, 15, 8)])
        self.assertEqual(counts, {"b.scala": 5, "c.scala": 13})
        self.assertEqual(total, sum(counts.values()))
        per_run = {}
        for name, _, _, n in runs:
            per_run[name] = per_run.get(name, 0) + n
        self.assertEqual(per_run, counts)


if __name__ == "__main__":
    unittest.main()
