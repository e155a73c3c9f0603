"""The contract's DuckDB oracle texts are frozen.

Every ``__spark_entry__.oracle_sql()`` text is pinned by sha256 in
``oracle_sql_sha256.json`` next to this file, so a refactor of the Spark
side cannot silently move the oracle it is checked against.  No Spark
session needed.  Regenerate the file only when an oracle is changed on
purpose:

    python -c "import hashlib, json, __spark_entry__ as e; print(json.dumps(
        {k: hashlib.sha256(v.encode()).hexdigest()
         for k, v in e.oracle_sql().items()}, indent=2, sort_keys=True))" \
        > tests/oracle_sql_sha256.json
"""

import hashlib
import json
import sys
from pathlib import Path

_HERE = Path(__file__).resolve().parent


def test_oracle_sql_texts_match_pinned_sha256():
    sys.path.insert(0, str(_HERE.parent))
    import __spark_entry__ as entry

    pinned = json.loads((_HERE / "oracle_sql_sha256.json").read_text())
    got = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in entry.oracle_sql().items()}
    assert sorted(got) == sorted(pinned), "oracle_sql() query names changed"
    changed = sorted(k for k in pinned if got[k] != pinned[k])
    assert not changed, f"oracle_sql() texts changed: {changed}"
