"""Signature-level parity of the MinHash-LSH candidate step: the DuckDB
``sig`` and ``bands`` SQL equal the engine's ``minhash_signatures`` and
``lsh_bands`` row for row, not only through the pair sets built on them."""

from __future__ import annotations

import pytest

from map_reduce_go_spark.operators.dedup import (
    _ORACLE_SHINGLES,
    _TUNE_CONFIGS,
    N_PERM,
    _bands_sql,
    _oracle_sigs,
    _shingle_arrays,
    lsh_bands,
    minhash_signatures,
)
from map_reduce_go_spark.sources.readers import load_table
from tests.oracle_compare import compare


def _sig_sql(n_perm: int) -> str:
    return f"""WITH {_ORACLE_SHINGLES},
    sig AS (SELECT doc_id, {_oracle_sigs(n_perm)} FROM sh GROUP BY doc_id)"""


def _signatures(spark, sf_dir, n_perm=N_PERM):
    return minhash_signatures(_shingle_arrays(load_table(spark, sf_dir, "documents")), n_perm)


# 16 permutations read digests 2 and 3, salted "2|" and "3|".
@pytest.mark.parametrize("n_perm", [N_PERM, 16])
def test_oracle_signatures_equal_minhash_signatures(spark, duck, sf_dir, n_perm):
    compare(
        _signatures(spark, sf_dir, n_perm),
        duck.sql(f"{_sig_sql(n_perm)} SELECT * FROM sig"),
        name=f"sig n_perm={n_perm}",
    )


@pytest.mark.parametrize("n_bands", _TUNE_CONFIGS)
def test_oracle_bands_equal_lsh_bands(spark, duck, sf_dir, n_bands):
    compare(
        lsh_bands(_signatures(spark, sf_dir), n_bands),
        duck.sql(f"{_sig_sql(N_PERM)}, bands AS ({_bands_sql(n_bands)}) SELECT * FROM bands"),
        name=f"bands n_bands={n_bands}",
    )


def test_lsh_bands_reads_n_perm_from_the_signatures(spark, sf_dir):
    sig = _signatures(spark, sf_dir, 12)
    assert lsh_bands(sig, 6).count() == 6 * sig.count()
    with pytest.raises(ValueError, match="n_bands=8 must divide n_perm=12"):
        lsh_bands(sig, 8)
