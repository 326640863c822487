"""Record-accessor path expressions -> Spark Columns.

Reference: the record-accessor grammar
``/root/reference/src/record_accessor/ra.y:62-96`` and value fetch
``src/flb_ra_key.c``. Paths look like::

    $key                  top-level key
    $key['sub']['sub2']   nested map/struct access
    $key[0]               array index
    $TAG                  the routing tag
    $TAG[n]               n-th dot-separated part of the tag

Templates (``flb_ra_translate``, src/flb_record_accessor.c:650-700)
interpolate accessors and regex capture refs ``$0..$9`` into strings —
used by rewrite_tag new-tag rules. We compile both to Column
expressions so the whole thing stays in Catalyst (no Python per row).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# $TAG[0] | $TAG | $key['a']['b'][0] | $0..$9
_ACCESSOR_RE = re.compile(
    r"\$TAG(?:\[(\d+)\])?"
    r"|\$([A-Za-z_][A-Za-z0-9_]*)((?:\[(?:'[^']*'|\"[^\"]*\"|\d+)\])*)"
    r"|\$(\d)"
)
_SUB_RE = re.compile(r"\[(?:'([^']*)'|\"([^\"]*)\"|(\d+))\]")
_ENV_RE = re.compile(r"\$\{([^}]*)\}")


def env_translate(template: str) -> str:
    """``${NAME}`` -> environment value at accessor-creation time
    (src/flb_record_accessor.c:291-313 via flb_env_var_translate);
    unset variables render as empty string, like the reference."""
    import os

    return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), template)


def _subscripts(subs: str) -> list[str | int]:
    out: list[str | int] = []
    for m in _SUB_RE.finditer(subs):
        if m.group(1) is not None:
            out.append(m.group(1))
        elif m.group(2) is not None:
            out.append(m.group(2))
        else:
            out.append(int(m.group(3)))
    return out


def ra_col(path: str, tag_col: str = "tag") -> Column:
    """Compile one record-accessor path to a Column.

    ``$TAG[n]`` follows the reference's tag-part split on '.'
    (src/flb_record_accessor.c:135-138).
    """
    path = path.strip()
    if not path.startswith("$"):
        # bare key name (fluent-bit configs accept both)
        path = "$" + path
    m = _ACCESSOR_RE.fullmatch(path)
    if not m:
        raise ValueError(f"unparseable record accessor: {path!r}")
    if m.group(0).startswith("$TAG"):
        if m.group(1) is not None:
            return F.split(F.col(tag_col), r"\.").getItem(int(m.group(1)))
        return F.col(tag_col)
    if m.group(4) is not None:  # $0..$9 capture ref — only valid in templates
        raise ValueError("regex capture ref outside template context")
    col = F.col(m.group(2))
    for sub in _subscripts(m.group(3) or ""):
        col = col.getItem(sub)
    return col


def ra_translate_col(
    template: str,
    tag_col: str = "tag",
    captures: dict[int, Column] | None = None,
    translate_env: bool = True,
) -> Column:
    """Compile an interpolation template to a Column (flb_ra_translate).

    ``captures`` maps ``$0..$9`` refs to Columns (regex match groups of a
    rewrite_tag rule). Null accessor values render as empty string, like
    the reference, which skips unresolvable accessors. ``${ENV}`` vars
    resolve once at compile time (flb_record_accessor.c:291-313).
    """
    if translate_env:
        template = env_translate(template)
    parts: list[Column] = []
    pos = 0
    for m in _ACCESSOR_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        if m.group(4) is not None:
            idx = int(m.group(4))
            if captures is None or idx not in captures:
                raise ValueError(f"capture ${idx} not provided for template {template!r}")
            parts.append(F.coalesce(captures[idx].cast("string"), F.lit("")))
        else:
            parts.append(F.coalesce(ra_col(m.group(0), tag_col).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def ra_key_present(columns: list[str], path: str) -> bool:
    """Whether ``path`` can resolve against a frame with ``columns``:
    ``$TAG`` paths always can, a key path needs its base key."""
    path = path.strip()
    return path.startswith("$TAG") or path.lstrip("$").split("[")[0] in columns


def ra_col_safe(df: DataFrame, path: str, tag_col: str = "tag") -> Column:
    """ra_col, but a path whose base key is absent from the schema
    resolves to null instead of failing analysis — the reference's
    record accessor simply finds nothing for a missing key."""
    if not ra_key_present(df.columns, path):
        return F.lit(None).cast("string")
    return ra_col(path, tag_col)
