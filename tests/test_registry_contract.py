"""The public contract of the query registry: the same query names with
byte-identical oracle SQL, tags and bench flags. Any refactor of the plan
modules must leave this hash unchanged; a deliberate contract change
updates the constant in the same commit."""

from __future__ import annotations

import hashlib
import json

from march_mania_spark_lakehouse_spark.plans import all_queries

CONTRACT_QUERIES = 248
CONTRACT_SHA256 = "23736cf1a806959aba7c57ec7a3b0a8d852c29ae208351125e37ae2162fdff11"


def test_registry_contract_unchanged():
    rows = sorted(
        (s.name, s.oracle, list(s.tags), s.bench) for s in all_queries().values()
    )
    assert len(rows) == CONTRACT_QUERIES
    assert hashlib.sha256(json.dumps(rows).encode()).hexdigest() == CONTRACT_SHA256
