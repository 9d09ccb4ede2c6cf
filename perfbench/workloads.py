"""The benchmark's workloads: which entries run, at what scale, and why.

Every entry is named as in ``__spark_entry__``. SQL entries run their
SQL text through ``SparkSQLPlus.sql`` under the default ``mode='auto'``
(never the entry module's forced modes, so a routing change shows up
here instead of being pinned away); operator entries run the entry
module's callable, which builds the DataFrame through the operator's
public function.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from datagen import TABLES as BASE_TABLES

# derived tables the workloads read, registered as the entry module's
# engine does: table -> (entry-module SQL constant, primary key, base table)
DERIVED_TABLES = {
    "graph": ("GRAPH_SQL", ("src", "dst"), "lineitem"),
    "docs_aug": ("DOCS_AUG_SQL", (), "documents"),
}
# tables each operator entry reads (its code, not SQL text, names them)
OPERATOR_TABLES = {
    "graph_triangle_wcoj": ("graph",),
    "dedup_minhash_lsh": ("docs_aug",),
    "text_tfidf_topk": ("documents",),
    "ann_cosine_topk": ("embeddings",),
}


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated inputs
    entries: tuple[str, ...]
    cold: bool  # clear the plan cache before every call


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "plan_cold",
            0.001,
            (
                "chain_theta_nonfull", "graph_q2_dumbbell", "tpch_q5_cyclic",
                "tpch_q21", "not_in_pair_or", "exists_neq_pair",
                "qualify_routed_topk",
            ),
            True,
        ),
        Workload(
            "pipeline_ops",
            0.001,
            (
                "graph_triangle_wcoj", "dedup_minhash_lsh", "text_tfidf_topk",
                "ann_cosine_topk",
            ),
            False,
        ),
    )
}


def sql_text(entry_mod, name: str) -> str | None:
    """The entry's SQL text, or None for an operator entry."""
    case = entry_mod._SQL_CASES.get(name) or entry_mod._GRAPH_CASES.get(name)
    return case[0] if case else None


def tables_read(entry_mod, workload: Workload) -> tuple[list[str], list[str]]:
    """(base tables, derived tables) the workload's entries read."""
    names: set[str] = set()
    known = BASE_TABLES + tuple(DERIVED_TABLES)
    for entry in workload.entries:
        text = sql_text(entry_mod, entry)
        if text is None:
            names.update(OPERATOR_TABLES[entry])
        else:
            names.update(t for t in known if re.search(rf"\b{t}\b", text))
    derived = sorted(names & set(DERIVED_TABLES))
    base = names - set(DERIVED_TABLES)
    base.update(DERIVED_TABLES[d][2] for d in derived)
    return sorted(base), derived
