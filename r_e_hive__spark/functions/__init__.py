"""Scalar/column function library (SURVEY.md §2.8).

The two quoting helpers below are shared by every SQL-string renderer
(``functions/vector.py``, ``text.shingles_sql``, ``ranking.tokenize_sql``)
and the operators that splice column names and literals into them."""


def sql_ident(name: str) -> str:
    """Render a column NAME as a SQL identifier with ``F.col``'s
    semantics: dots separate nested-field path segments (``s.embedding``
    → ``` `s`.`embedding` ```), and embedded backticks are doubled per
    segment (the Spark quoted-identifier escape) so an unusual column name
    cannot break out of the identifier and inject SQL fragments.

    The renderers take names, not ``Column`` objects; a ``Column`` here
    would otherwise surface as PySpark's misleading "'Column' object is
    not callable" (``Column.__getattr__`` turns ``.split`` into a field
    reference), so it is rejected up front."""
    if not isinstance(name, str):
        raise TypeError(
            f"sql_ident expects a column name (str), got "
            f"{type(name).__name__}: the SQL-rendered vector, LSH, centroid "
            "and tokenizer builders take the column's name (e.g. "
            "'embedding'), not F.col(...)"
        )
    return ".".join(
        "`" + seg.replace("`", "``") + "`" for seg in name.split(".")
    )


def sql_str_lit(s: str) -> str:
    """Render a Python string as a SQL string literal that parses back to
    the same value under the session's pinned escape semantics
    (escapedStringLiterals=false): backslashes doubled first, then single
    quotes doubled.  Round trip pinned in tests/test_ranking.py."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
