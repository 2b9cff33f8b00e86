"""Workload job definitions and the output checks that run after the timed
region.

Fan-out outputs are compared per branch with an independent recomputation in
DuckDB over the generated input: row count, an order-independent checksum
(sum of DuckDB's hash of each row's tab-joined text) and the share of the
expected rows present (multiset intersection). The near-duplicate output is
checked against the planted ground truth and exact Jaccard recomputed here.
"""

import os
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa

import gen

TAB = "chr(9)"

# Words the grep/sed branches look for: a frequent and a mid-frequency word
# of the Zipf vocabulary (ranks 2 and 30).
W_HI, W_MID = gen.word(2), gen.word(30)


def _wc(where):
    return ("select count(*)::VARCHAR || %s || sum(len(regexp_extract_all(line, '\\S+')))::VARCHAR"
            " || %s || sum(length(line))::VARCHAR as line from inp %s" % (TAB, TAB, where))


# fanout: (branch, mapper, reducer, expected rows as SQL over inp(line)).
# `wordcount` and `keyagg` are registry stages defined by the driver.
NATIVE_BRANCHES = [
    ("hits", "grep " + W_HI, "NONE",
     "select line from inp where regexp_matches(line, '%s')" % W_HI),
    ("misses", "grep -v " + W_MID, "NONE",
     "select line from inp where not regexp_matches(line, '%s')" % W_MID),
    ("proj", "cut -f 1,3", "NONE",
     "select split_part(line, %s, 1) || %s || split_part(line, %s, 3) as line from inp"
     % (TAB, TAB, TAB)),
    ("scrub", "sed s/%s/XX/g" % W_HI, "NONE",
     "select regexp_replace(line, '%s', 'XX', 'g') as line from inp" % W_HI),
    ("count", "cat", "wc", _wc("")),
    ("hitcount", "grep " + W_MID, "wc", _wc("where regexp_matches(line, '%s')" % W_MID)),
    ("vocab", "wordcount", "NONE",
     "select w || %s || count(*)::VARCHAR as line from "
     "(select unnest(regexp_split_to_array(lower(line), '\\s+')) as w from inp) "
     "where w <> '' group by w" % TAB),
    ("bykey", "keyagg", "NONE",
     "select k || %s || count(*)::VARCHAR || %s || sum(a)::VARCHAR as line from "
     "(select split_part(line, %s, 1) as k, split_part(line, %s, 3)::BIGINT as a from inp) "
     "group by k" % (TAB, TAB, TAB, TAB)),
]

_SUM_BY_KEY = ("awk -F'\\t' '$1!=k{if(n)print k \"\\t\" s; k=$1; s=0; n=1} {s+=$2} "
               "END{if(n)print k \"\\t\" s}'")
SHIPPED_SCRIPT = "catlen.sh"

# Specs that exec a child: an awk projection mapper with an awk sum-by-key
# reducer (Pipes.execReduce: keyed by the first field, sorted), and the
# shipped script as a mapper with no reducer.
EXEC_BRANCHES = [
    ("sums", "awk -F'\\t' '{print $2 \"\\t\" $3}'", _SUM_BY_KEY,
     "select split_part(line, %s, 2) || %s || sum(split_part(line, %s, 3)::BIGINT)::VARCHAR "
     "as line from inp group by split_part(line, %s, 2)" % (TAB, TAB, TAB, TAB)),
    ("lengths", "./" + SHIPPED_SCRIPT, "NONE",
     "select split_part(line, %s, 2) || %s || length(split_part(line, %s, 4))::VARCHAR "
     "as line from inp" % (TAB, TAB, TAB)),
]

BRANCHES = NATIVE_BRANCHES + EXEC_BRANCHES

# Known-defect probes, run once per traced run on the text reader's `value`
# column and reported as a per-layer count, outside the workload's
# operations.
#  - cutwc fails to plan: Pipes.cut renames its output to f<i> and the
#    builtin wc reducer is then resolved against `value`.
#  - textsums is the `sums` branch on `value`: the exec'd reducer's keying
#    (Pipes.keyBy) overwrites `value` with the part after the key, so the
#    reducer never sees the key.
PROBES = [
    ("cutwc", "cut -f 2", "wc",
     "select count(*)::VARCHAR || %s || sum(len(regexp_extract_all(f, '\\S+')))::VARCHAR"
     " || %s || sum(length(f))::VARCHAR as line from (select split_part(line, %s, 2) as f from inp)"
     % (TAB, TAB, TAB)),
    ("textsums",) + EXEC_BRANCHES[0][1:],
]


def spec(branch):
    return "%s|%s|%s" % branch[:3]


def read_lines(input_dir):
    lines = []
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name), encoding="utf-8") as f:
            lines.extend(f.read().split("\n")[:-1])
    return lines


def _connect(threads):
    con = duckdb.connect()
    con.execute("SET threads TO %d" % threads)
    return con


def _summary(con, rel):
    return con.execute("select count(*), coalesce(sum(hash(line)), 0) from (%s)" % rel).fetchone()


def _compare(con, expected_sql, output_rel):
    """(ok, expected rows, matched rows) for expected vs output relation. The
    rows match when count and checksum agree; otherwise the matched rows are
    counted as a multiset intersection."""
    n_e, h_e = _summary(con, expected_sql)
    if (n_e, h_e) == _summary(con, output_rel):
        return True, int(n_e), int(n_e)
    matched = con.execute(
        "select coalesce(sum(least(e.c, o.c)), 0) from "
        "(select line, count(*) c from (%s) group by line) e join "
        "(select line, count(*) c from (%s) group by line) o using (line)"
        % (expected_sql, output_rel)).fetchone()[0]
    return False, int(n_e), int(matched)


def _rows(con, path):
    """A parquet output as rows of tab-joined text."""
    src = "read_parquet('%s/*.parquet')" % path.replace("'", "''")
    cols = [r[0] for r in con.execute("describe select * from " + src).fetchall()]
    return "select concat_ws(%s, %s) as line from %s" % (
        TAB, ", ".join('"%s"::VARCHAR' % c for c in cols), src)


def check_fanout(input_dir, outs, threads):
    """Checks each (branch, output dir); a branch is an entry of BRANCHES or
    PROBES. Returns [(branch, ok, expected rows, matched rows)]."""
    con = _connect(threads)
    con.register("inp", pa.table({"line": read_lines(input_dir)}))
    return [(b[0],) + _compare(con, b[3], _rows(con, path)) for b, path in outs]


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while self.parent.get(x, x) != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            self.parent[hi] = lo
            self.parent.setdefault(lo, lo)


# LSH with 16 bands of 4 lanes finds a pair at Jaccard 0.7 with probability
# 0.988, and higher pairs more surely; fewer than 90% found is a defect.
RECALL_FLOOR = 0.9


def check_neardup(input_dir, cache_dir, out, threads):
    """Returns ([(check, ok, expected, matched)], pair recall)."""
    p = gen.DOC_PARAMS
    texts = {}
    for line in read_lines(input_dir):
        i, t = line.split("\t", 1)
        texts[int(i)] = t
    con = _connect(threads)
    pairs = con.execute("select id_a, id_b, jaccard from read_parquet('%s/pairs/*.parquet')"
                        % out).fetchall()
    kept = con.execute("select id, text from read_parquet('%s/kept/*.parquet')" % out).fetchall()
    results = []

    # every reported pair is a distinct id_a < id_b pair whose exact Jaccard
    # (as rounded by the program) is at least tau
    shingles = {}

    def sh(i):
        if i not in shingles:
            shingles[i] = gen.shingles(texts[i], p["shingle_n"])
        return shingles[i]
    good = sum(1 for a, b, j in pairs
               if a < b and abs(gen.jaccard4(sh(a), sh(b)) - j) < 1e-9 and j >= p["tau"])
    distinct = len(set((a, b) for a, b, _ in pairs))
    results.append(("pairs_exact", good == len(pairs) and distinct == len(pairs),
                    len(pairs), good))

    # kept = the corpus minus every document that is not the minimum id of
    # its connected component over the reported pairs
    uf = UnionFind()
    for a, b, _ in pairs:
        uf.union(a, b)
    dropped = {x for x in uf.parent if uf.find(x) != x}
    expected = Counter("%d\t%s" % (i, t) for i, t in texts.items() if i not in dropped)
    got = Counter("%d\t%s" % (i, t) for i, t in kept)
    matched = sum((expected & got).values())
    results.append(("kept_exact", expected == got, sum(expected.values()), matched))

    # planted pairs with Jaccard >= tau that the job found
    truth = np.load(os.path.join(cache_dir, "true_pairs.npy"))
    true_set = set(map(tuple, truth.tolist()))
    found = true_set & set((a, b) for a, b, _ in pairs)
    recall = len(found) / len(true_set) if true_set else 1.0
    results.append(("recall_floor", recall >= RECALL_FLOOR, len(true_set), len(found)))
    return results, recall

