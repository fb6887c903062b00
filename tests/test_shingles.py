"""The word-trigram shingle primitive (functions/shingles.py) and the
short-doc behaviour of the wider n-gram keys (qk17 at 5 words, qf18 at
8), which the sf fixtures cannot show: every doc there is long."""

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import rows_key

DOCS = [
    (1, "one"),
    (2, "two words"),
    (3, "three words here"),
    (4, "a b c a b c"),  # trigram "a b c" occurs twice
]


@pytest.mark.parametrize("short_doc", ["empty", "text"])
def test_shingle_index_short_docs_and_n_sh(spark, short_doc):
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.functions.shingles import shingle_arrays, shingles
    from pyspark_distributed_kmodes_spark.operators.text import ngram_jaccard_pairs

    d = spark.createDataFrame(DOCS, "doc_id long, text string")
    short = {1: ["one"], 2: ["two words"]} if short_doc == "text" else {1: [], 2: []}
    want = {**short, 3: ["three words here"], 4: ["a b c", "b c a", "c a b"]}
    got = {r.doc_id: r.sh for r in shingle_arrays(d, short_doc).collect()}
    assert got == want

    idx = shingles(d, short_doc)
    per_doc = idx.groupBy("doc_id", "n_sh").agg(F.sort_array(F.collect_list("shingle")).alias("sh"))
    got = {r.doc_id: (r.n_sh, r.sh) for r in per_doc.collect()}
    assert got == {k: (len(v), sorted(v)) for k, v in want.items() if v}

    with pytest.raises(ValueError, match="n_sh"):
        ngram_jaccard_pairs(d, shingles=idx.drop("n_sh"))
    with pytest.raises(ValueError, match="short_doc"):
        shingle_arrays(d, "drop")


def test_short_doc_ngram_keys_match_oracle(spark, tmp_path):
    """Docs of 1-7 words next to long ones: qk17 and qf18 yield no
    n-grams for a doc shorter than their width, as the oracle does,
    instead of crashing F.slice on a descending start sequence."""
    import duckdb

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [(i, " ".join(f"w{j}" for j in range(i)), "src1") for i in range(1, 8)]
    rows += [
        (10, eval_text, "src19"),
        (11, "intro " + " ".join(eval_text.split()[1:10]) + " outro", "src1"),
        (12, " ".join(eval_text.split()[:7]), "src2"),  # 7 words of the eval doc
        (13, "w0 w1 w2 w3 w4 w5", "src19"),
        (14, "one two three four five six seven eight nine ten", "src2"),
    ]
    rows += [(20 + i, "red green blue cyan magenta yellow", "src3") for i in range(6)]
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": [r[2] for r in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ("qk17_ngram_dup_mass", "qf18_ngram_decontamination"):
        df = qs[name](spark, str(tmp_path))
        srows = df.collect()
        rel = con.execute(oracles[name])
        dcols = [c[0] for c in rel.description]
        drows = rel.fetchall()
        assert srows and rows_key(df.columns, srows) == rows_key(dcols, drows), name
