"""Chemistry UDFs: InChI <-> SMILES (SURVEY.md §2.11 D1/D2/D5).

The reference wraps RDKit in row-at-a-time UDFs (helper/udf.py:7-16,39-47).
Here they are Arrow-vectorized pandas_udfs, and RDKit is optional: this
container doesn't ship it, so we gate behind an import-try and fall back to a
clearly-marked deterministic stub (prefixed output) so the Spark-side
plumbing — dedup-before-UDF, join-back, schema — is real and testable.

The dedup-before-expensive-UDF idiom (reference: 80_harmonize.py:72-73 —
``select('inchi').distinct()`` -> UDF -> join back on inchi) is packaged as
:func:`with_derived_column_deduped`; Catalyst will not deduplicate UDF inputs
for you, so at 100 TB this is the difference between running RDKit on 1e7
distinct structures vs 1e10 activity rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

try:  # pragma: no cover - rdkit not in the test container
    from rdkit import Chem  # type: ignore

    HAVE_RDKIT = True
except ImportError:
    Chem = None
    HAVE_RDKIT = False


def _inchi_to_smiles_one(inchi):
    if inchi is None:
        return None
    if HAVE_RDKIT:  # pragma: no cover
        mol = Chem.MolFromInchi(inchi)
        return Chem.MolToSmiles(mol) if mol is not None else None
    # deterministic stub: valid-looking inchi -> tagged smiles, else null
    # (mirrors reference null-on-failure contract, helper/udf.py:10-14)
    return f"SMI:{inchi}" if inchi.startswith("InChI=") else None


def _smiles_to_inchi_one(smiles):
    if smiles is None:
        return None
    if HAVE_RDKIT:  # pragma: no cover
        mol = Chem.MolFromSmiles(smiles)
        return Chem.MolToInchi(mol) if mol is not None else None
    return f"InChI=STUB/{smiles}" if smiles else None


@pandas_udf(StringType())
def inchi_to_smiles(inchi: pd.Series) -> pd.Series:
    """D1 ``inchi2smi`` (reference helper/udf.py:7-16, used 80_harmonize.py:72)."""
    return inchi.map(_inchi_to_smiles_one, na_action="ignore")


@pandas_udf(StringType())
def smiles_to_inchi(smiles: pd.Series) -> pd.Series:
    """D2 ``smiles_to_inchi`` (reference helper/udf.py:39-47, used 13:34 etc.)."""
    return smiles.map(_smiles_to_inchi_one, na_action="ignore")


def with_derived_column_deduped(
    df: DataFrame, src_col: str, out_col: str, udf_col: Column,
    broadcast: bool | None = None, universe: DataFrame | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Apply an expensive scalar UDF over *distinct* inputs, then join back.

    reference idiom: 80_harmonize.py:72-73. ``broadcast`` controls the
    join-back hint on the mapping side: ``None`` (default) size-gates it —
    the hint is attached only when Catalyst estimates the mapping under
    autoBroadcastJoinThreshold (hints.size_gated_broadcast), else the join
    is left unhinted and AQE decides from runtime statistics. This matters
    because the distinct input set GROWS WITH THE DATA (1e8+ distinct
    structures at 100×) — a forced hint at that size OOMs the executors.
    ``True`` forces the hint (only for provably-bounded inputs);
    ``False`` never hints.

    ``universe``: optional cheaper frame to harvest the distinct inputs
    from. The mapping side re-executes its input plan from scratch (it is
    a separate broadcast/join subtree — Spark shares no work between it
    and ``df``'s own lineage unless ``df`` is persisted), so when ``df``
    is the tail of an expensive pipeline and ``src_col`` survives from an
    early stage unchanged, harvesting from that early frame skips the
    whole re-execution. Any SUPERSET of df's values is correct: the join
    is left and the UDF is a pure per-value function, so extra mapping
    rows can never change or drop an output row (harmonize passes the raw
    activities scan — inchi is untouched by rekey/distinct — measured
    ~2x on harmonize_e2e at sf0.1).

    ``observation``: observes ``rows``, the number of distinct inputs sent
    through the UDF, on the action that runs the mapping.
    """
    from chemharmony_spark.hints import size_gated_broadcast

    mapping = (
        (universe if universe is not None else df)
        .select(src_col).where(F.col(src_col).isNotNull()).distinct()
    )
    if observation is not None:
        mapping = mapping.observe(observation, F.count(F.lit(1)).alias("rows"))
    mapping = mapping.withColumn(out_col, udf_col)
    if broadcast is None:
        mapping = size_gated_broadcast(mapping)
    elif broadcast:
        mapping = F.broadcast(mapping)
    return df.join(mapping, on=src_col, how="left")
