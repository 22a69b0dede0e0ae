"""The flagship query: entry() == the NumPy exact oracle over the same
sf0.001 documents (P/R = 1.0, scores to 1e-9, one rank-1 link per
document)."""

from urllib.parse import urlparse

import pandas as pd

import __spark_entry__
from cli_p_spark.fixtures.generate import make_entities
from cli_p_spark.oracle.exact import golden_triples, precision_recall


def test_entry_matches_exact_oracle(spark):
    triples = __spark_entry__.entry(spark)
    got = triples.toPandas()

    # the oracle reads the very files entry() scanned
    flat = pd.concat(
        pd.read_parquet(urlparse(f).path, columns=["doc_id", "text"])
        for f in sorted(triples.inputFiles())
    )
    docs_pdf = pd.DataFrame({
        "doc_id": flat["doc_id"].astype(str),
        "spans": [
            [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]
            for t in flat["text"]
        ],
    })
    golden = golden_triples(docs_pdf, make_entities(200), tau=0.0, k=1)

    p, r = precision_recall(got, golden)
    assert p == 1.0 and r == 1.0, (p, r, len(got), len(golden))
    merged = got.merge(
        golden, on=["subj", "span_idx", "pred", "obj"], suffixes=("_s", "_o")
    )
    assert len(merged) == len(golden)
    assert (merged["score_s"] - merged["score_o"]).abs().max() <= 1e-9
    rank1 = got[got["rank"] == 1]
    assert len(got) == len(rank1) == len(flat)
    assert rank1["subj"].is_unique
