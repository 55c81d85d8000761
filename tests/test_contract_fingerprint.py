"""The fingerprint of ``__spark_entry__``'s query surface: the oracle
SQL text and the query key set.

Code cuts elsewhere in the package must leave both byte-identical; a
change here is a change to what the correctness gate compares, and must
be deliberate. Building both dicts needs no SparkSession.
"""

import hashlib
import json

import __spark_entry__ as E

ORACLE_SQL_SHA256 = "672d1c71be7f36bfd78666b796bd4035fa6e3b60c572659a4b31d69bebe852f5"
QUERY_KEYS_SHA256 = "40f78421ad068153227a511b97e3eb01ed22de918943dcc7a45cf5b4cce0ff6b"
# the queries() keys without an oracle; the gate checks only their row counts
ROWS_ONLY = {"refine_spelling", "refine_stem", "sketch_profile", "vendi_score"}


def test_oracle_sql_fingerprint():
    oracles = E.oracle_sql()
    assert len(oracles) == 155
    digest = hashlib.sha256(json.dumps(sorted(oracles.items())).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256


def test_query_key_set_fingerprint():
    keys = sorted(E.queries())
    assert len(keys) == 159
    assert hashlib.sha256("\n".join(keys).encode()).hexdigest() == QUERY_KEYS_SHA256
    assert set(keys) - set(E.oracle_sql()) == ROWS_ONLY
