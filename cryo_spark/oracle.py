"""DuckDB SQL snippet generators for the correctness oracle.

The driver compares each Spark query against an ANSI-SQL oracle run
by DuckDB on the same parquet. DuckDB (this build) cannot cast hex
strings to integers, so big-endian binary decode is expressed as a
nibble positional sum over ``hex(blob)``. These helpers generate
those (machine-written) expressions so oracle strings stay readable.
"""

from __future__ import annotations

NIBBLES = "0123456789abcdef"


def fixture_path(fixtures_dir: str, name: str) -> str:
    return f"{fixtures_dir}/{name}.parquet"


def fixture_rel(fixtures_dir: str, name: str) -> str:
    """FROM-clause source for a fixture table."""
    return f"read_parquet('{fixture_path(fixtures_dir, name)}')"


def nibble_val(char_expr: str) -> str:
    return f"(strpos('{NIBBLES}', {char_expr}) - 1)"


def be_uint_sql(blob_expr: str, max_bytes: int = 16) -> str:
    """DuckDB expression: big-endian uint of the last ``max_bytes``
    bytes of a blob, as DECIMAL(38,0) (mirrors functions.be_uint).

    Built from 8-byte limbs; each limb is a sum of 16 nibble terms
    with bit shifts (BIGINT-safe: each limb < 2**64 is accumulated into
    a HUGEINT before scaling).
    """
    # rightmost 2*max_bytes hex chars, zero-padded (lpad alone truncates
    # longer inputs to the high-order half — must take the RIGHT side)
    h = f"right(concat(repeat('0', {2 * max_bytes}), lower(hex({blob_expr}))), {2 * max_bytes})"
    n_limbs = (max_bytes + 7) // 8
    limbs = []
    for limb in range(n_limbs):
        terms = []
        for i in range(16):
            pos = limb * 16 + i + 1
            shift = 4 * (15 - i)
            if shift:
                terms.append(f"({nibble_val(f'substring({h}, {pos}, 1)')}::HUGEINT << {shift})")
            else:
                terms.append(f"{nibble_val(f'substring({h}, {pos}, 1)')}::HUGEINT")
        limb_sql = "(" + " + ".join(terms) + ")"
        scale = 2 ** (64 * (n_limbs - 1 - limb))
        if scale > 1:
            limb_sql = f"({limb_sql} * {scale}::HUGEINT)"
        limbs.append(limb_sql)
    return "CAST((" + " + ".join(limbs) + ") AS DECIMAL(38,0))"


def count_zero_bytes_sql(blob_expr: str) -> str:
    """DuckDB expression mirroring functions.count_zero_bytes: split
    hex(blob) into byte pairs, count '00'."""
    return (
        f"CAST(len(list_filter(regexp_extract_all(hex({blob_expr}), '..'), "
        f"x -> x = '00')) AS INTEGER)"
    )


def trace_sort_key_sql(col_expr: str = "trace_address") -> str:
    """DuckDB expression mirroring functions.trace_sort_key."""
    padded = (
        f"list_aggregate(list_transform(string_split({col_expr}, '_'), "
        f"x -> lpad(x, 3, '0')), 'string_agg', '_')"
    )
    return f"CASE WHEN {col_expr} = '' THEN '' ELSE {padded} END"


def blob_slice_sql(blob_expr: str, start: int, length: int) -> str:
    """DuckDB blob substring (1-based, like Spark substring on binary).
    DuckDB has no native blob slicing — round-trip through hex."""
    return f"unhex(substring(hex({blob_expr}), {2 * start - 1}, {2 * length}))"


def blob_slice_dyn_sql(blob_expr: str, start_sql: str, length_sql: str) -> str:
    """Like blob_slice_sql but with SQL expressions for start/length."""
    return (
        f"unhex(substring(hex({blob_expr}), (2 * ({start_sql}) - 1)::INT, "
        f"(2 * ({length_sql}))::INT))"
    )
