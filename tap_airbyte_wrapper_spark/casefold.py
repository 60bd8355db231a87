"""The engine's one case fold: every column the engine lower-cases goes
through :func:`lower`, so ASCII text never starts Spark's ICU case
mapping.

Root cause.  Under Spark 4.1 ``spark.sql.icu.caseMappings.enabled``
defaults to true, so the first ``F.lower`` in a JVM calls
``CollationSupport.Lower.execBinaryICU``.  That runs the static
initializer of ``CollationAwareUTF8String``, which clones an ICU word
``BreakIterator`` over and over: a JFR allocation profile of the
``exact_dedup_docs`` query puts 3.07 GB of its 3.45 GB sampled
allocation there.  The heap grows to hold that garbage and does not
shrink back.  On a 4-core VM, lower-casing one ASCII row in a fresh
JVM took 6.3-7.0 s CPU and grew the JVM from 428 to 1,132-1,180 MB;
with ICU case mapping off it took 2.9-3.6 s and grew it to 433-473 MB.

The session conf is not the fix: it is session-wide, and with it off
non-ASCII text goes through the JVM's locale-dependent ``toLowerCase``,
which changes results the duckdb oracles check.

The trade.  Once ICU has started, ``F.lower`` folds an ASCII string with
a byte loop; ``translate`` decodes it to a Java string and looks every
character up in a map.  The fold therefore swaps a one-off start-up for
a cost per character.  On a 4-core VM (``local[1]``, 27 M characters)
a warm ``F.lower`` took 7 ns per ASCII character and the fold 49 ns;
the start-up it avoids cost 3.3 s CPU and ~300 MB of JVM peak memory,
once per JVM.  Operators that name folded text in several higher-order
functions bind it to a lambda variable, so it is folded once per row;
in a JVM that never sees a non-ASCII row the fold saves CPU until roughly
80 M ASCII characters (8 M short CDC op codes) have been folded in it,
and costs CPU after that; the memory it saves holds either way.  A
non-ASCII row starts ICU as before, and from then on ASCII rows still
pay ``translate``: on 10%-non-ASCII text the fold took 55 ns per
character against 14, and its cold pass cost 1.5 s more.
``scripts/casefold_cost.py`` measures both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = ["lower", "lower_ascii"]

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def lower_ascii(col: Column) -> Column:
    """``F.lower(col)`` for a string that can only hold ASCII.

    Maps A-Z to a-z and nothing else; for a regex capture over an ASCII
    class, say.  Names ``col`` once, so a regex argument runs once."""
    return F.translate(col, _UPPER, _UPPER.lower())


def lower(col: Column) -> Column:
    """``F.lower(col)``, computed without ICU when the string is ASCII.

    A string is ASCII when its length in characters equals its length
    in bytes; then A-Z map to a-z, exactly ICU's mapping.  Any other
    string still goes through ``F.lower``, so every output, null
    included, equals ``F.lower(col)``, and ICU starts only once a
    non-ASCII string arrives.

    ``col`` appears four times in the expression.  In a projection
    Catalyst's subexpression elimination evaluates it once per row; an
    argument of a higher-order function (``transform``, ``filter``)
    gets no elimination, so there pass a column or a lambda variable,
    not a regex over one."""
    ascii_only = F.length(col) == F.octet_length(col)
    return F.when(ascii_only, lower_ascii(col)).otherwise(F.lower(col))
