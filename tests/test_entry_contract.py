"""Driver-contract invariants for __spark_entry__ (no Spark needed):
the oracle board can only grow, every oracle key has a query, and every
query is callable."""

import os
import sys

import pytest


def test_entry_contract():
    sys.path.insert(0, ".")
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert len(qs) >= 143, len(qs)
    assert len(oracles) >= 143, len(oracles)
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"
    rows_only = set(qs) - set(oracles)
    # every entry now has an oracle (simhash_pairs got its independently
    # derived VALUES-literal oracle in round 4)
    assert rows_only == set(), rows_only
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_names_defined_once():
    """Every module-level function, class and assigned name of
    __spark_entry__ is defined exactly once: a redefinition (a second
    ``queries()`` extending the first) silently shadows the earlier one.
    Checked on the AST, as no linter runs here."""
    import ast

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "__spark_entry__.py")) as f:
        tree = ast.parse(f.read())
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                             ast.Name):
            names.append(node.target.id)
    assert "queries" in names and "oracle_sql" in names
    dup = sorted({n for n in names if names.count(n) > 1})
    assert not dup, dup


SF001 = "/root/testdata/sf0.01/documents.parquet"


@pytest.mark.skipif(not os.path.exists(SF001), reason="driver corpus absent")
def test_minhash_allpairs_oracle_recall_margin():
    """Fixture guard for the minhash_pairs all-pairs-Jaccard oracle
    (ADVICE r3): its soundness rests on LSH recall being exactly 1 on the
    driver corpus. At 32 hashes / 8 bands the per-pair band-miss
    probability is (1 - J^4)^8 — ≤2e-4 at J≥0.9 but ~1.5% already at
    J=0.8. Pin the corpus's margin: every true pair (J ≥ 0.7) must sit
    well above threshold, and nothing may sit just below it, so a corpus
    change that invalidates the recall-1 assumption fails HERE, loudly,
    not as a flaky oracle-gate mismatch."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF001}'")
    jac = con.execute("""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                     t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(range(1, len(t)-1),
                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2
)
SELECT i::DOUBLE / (sa.sz + sb.sz - i) AS jac
FROM inter JOIN sizes sa ON sa.id = inter.id_a
           JOIN sizes sb ON sb.id = inter.id_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i) > 0.5
""").fetchall()
    vals = sorted(j for (j,) in jac)
    true_pairs = [j for j in vals if j >= 0.7]
    near_miss = [j for j in vals if 0.55 <= j < 0.7]
    # measured on the current corpus: 25 true pairs, min J = 0.9, next
    # pair below threshold at J ≤ 0.5
    assert true_pairs and min(true_pairs) >= 0.88, \
        f"true pair too close to banding miss region: min J={min(true_pairs)}"
    assert not near_miss, \
        f"pairs just below threshold would mask a banding regression: {near_miss}"
