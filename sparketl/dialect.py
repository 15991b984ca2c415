"""Presto-dialect SQL front door (SURVEY.md §2.9, §8 candidate 1).

The reference is a tool whose users write *Presto* SQL.  This module
lets them run that SQL unchanged on the Spark engine::

    from sparketl import dialect
    df = dialect.sql(spark, "select date_diff('day', a, b) ... ")

``translate()`` rewrites the documented Presto→Spark divergences
(SURVEY.md §2.9 tables — name changes, argument-order traps, semantics
pins) and leaves everything else alone, so the output is plain Spark
SQL handed to ``spark.sql()``.  It is a *surface* translator driven by
a literal-safe tokenizer, not a full parser: every rewrite operates
outside string literals/comments and balances parentheses when it has
to read arguments.  Clause-level constructs go through an ordered list
of passes; function calls go through one inside-out scan over a table
of call rules (``_CALLS``), whose output is never read again.

Rewrite inventory (each has a unit test in tests/test_dialect.py):

===========================  =============================================
Presto                       Spark
===========================  =============================================
date_diff('u', t1, t2)       timestampdiff(U, t1, t2)   (same t2-t1 order)
date_add('u', n, ts)         timestampadd(U, n, ts)
day_of_week(x) / dow(x)      (weekday(x) + 1)           (ISO 1=Mon..7=Sun)
extract(DOW|DAY_OF_WEEK ...) (weekday(x) + 1)   (Spark DOW is Sun=1..Sat=7)
extract(SECOND from x)       cast(extract(second from x) as bigint)
                             (Presto drops the fraction; Spark keeps
                             decimal(8,6); cast truncates toward zero —
                             valid for timestamp AND interval operands)
extract(YOW|YEAR_OF_WEEK ..) extract(YEAROFWEEK from x)
sign(x)  [x integral]        cast(sign(x) as bigint)    (sql() only —
                             Spark sign() is always DOUBLE)
day_of_month(x)              dayofmonth(x)
day_of_year(x) / doy(x)      dayofyear(x)
week_of_year(x) / week(x)    weekofyear(x)
from_unixtime(e)             timestamp_seconds(e)       (Spark's returns str)
to_unixtime(ts)              (cast(unix_micros(ts) as double) / 1000000.0)
format_datetime(ts, f)       date_format(ts, f)
parse_datetime(s, f)         to_timestamp(s, f)         (Joda≈JDK for simple
                                                         patterns only)
split(s, d[, n])             split(s, regex-escaped d[, n])  (Presto delim
                                                         literal, Spark regex)
strpos(s, sub)               instr(s, sub)
starts_with(s, p)            startswith(s, p)
levenshtein_distance(a, b)   levenshtein(a, b)
format(f, ...)               format_string(f, ...)
json_extract_scalar(j, p)    get_json_object(j, p)
json_extract(j, p)           get_json_object(j, p)
json_format(x)               to_json(x)
contains(a, x)               array_contains(a, x)
element_at(c, i)             try_element_at(c, i)       (Presto NULL o.o.b.;
                                                         Spark ANSI errors)
zip(a, b)                    arrays_zip(a, b)
arbitrary(x)                 any_value(x)
approx_distinct(x)           approx_count_distinct(x)
bitwise_and(a, b)            (a & b)  (+ bitwise_or(a, b) → (a | b),
                              bitwise_xor(a, b) → (a ^ b))
random(n) / random(m, n)     cast(floor(rand()*span) as bigint) [+ m]
TRY(cast(x as t))            try_cast(x as t)
TRY(a op b), op in + - * /   try_add/subtract/multiply/divide(a, b)
                             (single operator, paren-free operands;
                              other TRY shapes untouched → loud)
TRY(try_*(...))              try_*(...)                 (already NULL-safe)
truncate(x)                  (sign(x) * floor(abs(x)))  (toward zero, double)
any_match(a, f)              exists(a, f)               (+ all_match(a, f)
                                                         → forall(a, f),
                                                         none_match(a, f) →
                                                         (not exists(a, f)))
ngrams(a, n)                 transform(sequence(1, ...), i -> slice(a, i, n))
                                                        (array<array<T>>;
                                                         n > |a| → [a]; NB a
                                                         and n are inlined
                                                         more than once —
                                                         same caveat as the
                                                         random(m,n) bounds)
repeat(x, n)                 UNTRANSLATED, documented divergence: Presto's
                             repeat builds an ARRAY while ANSI/Spark/DuckDB
                             repeat(string, n) concatenates a STRING — same
                             name, two semantics, syntactically
                             indistinguishable (repeat('x', 3) is valid in
                             both readings).  Spark's string semantics win;
                             Presto pipelines should write array_repeat,
                             which Spark accepts natively.
url_extract_host(u)          parse_url(u, 'HOST')       (+ url_extract_path(u),
                                                         url_extract_protocol(u),
                                                         url_extract_query(u),
                                                         url_extract_fragment(u)
                                                         →REF;
                                                         url_extract_parameter(u,k)
                                                         → parse_url(u,'QUERY',k);
                                                         _port: no parse_url
                                                         part → untouched,
                                                         loud.  url_encode/
                                                         url_decode are
                                                         already identical —
                                                         execution-verified)
set_agg(x)                   collect_set(x)  (DOCUMENTED DIVERGENCE:
                              Presto's set keeps one NULL element,
                              Spark's collect_set — like its
                              array_agg — drops NULLs; over non-NULL
                              columns the two agree exactly)
map_agg(k, v)                map_from_entries(collect_list(struct(k, v)))
                             (entry order unspecified in BOTH dialects —
                              sort map_entries before rendering; dup keys
                              raise on Spark where Presto picks one: loud)
approx_most_frequent(k,v,c)  map_from_entries over approx_top_k(v, k, c)
                             (both Space-Saving-family; error envelopes
                              differ — heavy-hitter membership is the
                              portable contract, counts are estimates)
bitwise_left_shift(x, n)     shiftleft(x, n)
bitwise_right_shift(x, n)    shiftrightunsigned(x, n)  (Presto's right
                              shift is LOGICAL zero-fill; shiftright
                              would sign-extend.  Residual divergence
                              both shifts: n >= operand width → Presto
                              0, JVM wraps n mod width)
bit_count(x, 64)             bit_count(cast(x as bigint))  (Presto
                              sign-extends to the stated width; other
                              widths untouched, loud)
is_nan(x)                    isnan(x)
infinity()                   cast('Infinity' as double)
nan()                        cast('NaN' as double)
codepoint(c)                 ascii(c)                   (Spark takes the
                                                         FIRST char of any
                                                         string — superset)
e AT TIME ZONE z             from_utc_timestamp(e, z)   (UTC session:
                              instant kept, wall clock moved; zone-name
                              SUFFIX is lost — Spark has no tz type.
                              Bounded operand scan; fancier shapes raise
                              the documented refusal)
with_timezone(e, z)          to_utc_timestamp(e, z)     (wall clock declared
                              zone-local; instant moves, rendered in UTC)
from_iso8601_timestamp(s)    cast(s as timestamp)       (ANSI cast parses
                              the ISO surface + a superset; offsets/Z
                              normalize to the UTC session — same instant)
from_iso8601_date(s)         cast(s as date)
to_iso8601(x)                typeof() CASE: date → 'yyyy-MM-dd', else
                             date_format(x, yyyy-MM-dd'T'HH:mm:ss.SSS)
                             (Presto millis precision; type-dependent
                              output a text translator can't pick statically)
parse_duration('5.5m')       make_dt_interval(0, 0, 0, 330.000) — literal
                             folded at translate time (Decimal-exact,
                             half-up to millis); non-literal arg RAISES
                             the documented refusal (no row-level parser)
date_format(x, '%Y-%m')      date_format(x, 'yyyy-MM') — Presto's MySQL
                             %-specifiers translated one-by-one (Spark's
                             SAME-NAMED date_format takes Java patterns:
                             the worst silent-garbage trap in the dt
                             family); literal-alpha runs Java-quoted,
                             '%'-free literals RAISE the documented
                             refusal (Presto renders them as LITERAL
                             text, Spark would read Java specifiers —
                             format_datetime is the Java-pattern path;
                             ADVICE r10), unsupported specifiers
                             (%U %V %v %w %x %X %D %u) RAISE
date_parse(s, '%d/%m/%Y')    to_timestamp(s, 'dd/MM/yyyy') — same
                             translation; non-literal pattern RAISES, as
                             does %y (two-digit-year PARSE pivot differs:
                             Spark [2000,2099] vs Presto 1970-based).
                             DOCUMENTED SILENT DIVERGENCE: a NON-literal
                             date_format pattern passes through to
                             Spark's Java-pattern date_format (the same
                             name serves the engine's own Spark-spelling
                             callers, so a dynamic MySQL pattern can't
                             be told apart and renders Java semantics)
from_unixtime(e[, z|h, m])   timestamp_seconds(e); zone form wraps in
                             from_utc_timestamp; (hours, minutes) fixed
                             offset folds int literals to 'GMT±hh:mm',
                             RAISES for runtime offsets
last_day_of_month(d)         last_day(d)
regexp_split(s, p)           split(s, p)  (both Java-regex; the pattern
                             stays RAW — only literal-delimiter split()
                             gets regex-escaped)
to_base(x, b)                lower(conv(x, 10, -(b)))  (signed mode;
                             Presto digits are lowercase)
from_base(s, b)              cast(conv(s, b, -10) as bigint)  (signed —
                             unsigned conv reads '-101' as 1.8e19)
array_histogram(a)           map_from_entries over distinct non-null
                             keys, each counted by filter+size (a is
                             inlined twice — the ngrams/random caveat)
array_agg(x ORDER BY k...)   transform(array_sort(collect_list(
                             struct(k IS NULL, k, ..., x))), s -> s.x)
                             (+reverse for DESC; null-flag field pins
                             Trino's null-sorts-largest; mixed
                             directions / explicit NULLS clauses
                             RAISE; KEEPS null values, unlike the
                             unordered collect_list map)
min_by(x, y, n) /            sorted-struct slice (null-y filtered,
max_by(x, y, n)              ties ordered by value; 2-arg native)
skewness(x)                  sample-corrected G1 from Spark's population
                             skewness: g1·sqrt(n(n-1))/(n-2) — Presto/
                             Trino/DuckDB all return the SAMPLE
                             estimator, Spark the population one; x is
                             inlined three times (volatile-arg caveat)
kurtosis(x)                  sample-corrected excess G2:
                             ((n+1)g2+6)(n-1)/((n-2)(n-3)) — same
                             convention trap, same caveat
reduce_agg(x, s0, in, comb)  aggregate(array_sort(collect_list(x)),
                             s0, in) — sequential fold ≡ Presto's
                             contract (commutative-associative pair);
                             comb never needed; array_sort pins the
                             fold order Presto leaves unspecified.
                             MEMORY BOUND: materializes the group (no
                             partial agg) — bounded groups only; the
                             operators.aggregates.reduce_agg helper
                             adds a loud size guard
hamming_distance(s1, s2)     zip_with over character splits under an
                             equal-length raise_error guard (Presto
                             errors there too); UTF-16 residue: astral
                             code points count as two positions
word_stem(s) / normalize(s)  RAISE the documented refusal (no sound
/ cosine_similarity(x, y)    Spark composition: no stemmer, no Unicode
                             normalizer, sparse-MAP cosine needs
                             per-row Python — llm_ann covers dense)
"ident"                      `ident`                    (Spark double-quote
                                                         is a string literal)
ltrim(s, c) / rtrim(s, c)    trim(leading|trailing c from s)  (Spark's
                              two-argument forms take (c, s))
MAP(keys, values)            map_from_arrays(keys, values)
varchar (bare, in casts)     string                     (Spark VARCHAR needs
                                                         a length parameter)
varbinary                    binary
CROSS JOIN UNNEST(e) AS t(c) LATERAL VIEW explode(e) t AS c
FROM t, UNNEST(e) AS u(c)    same (comma-join form)
===========================  =============================================

Already identical (no rewrite, verified in §2.9): concat/||, substr,
trim family, replace, split_part, lpad/rpad, reverse, regexp_like,
regexp_extract, regexp_replace, date_trunc, extract, year/month/day,
interval literals, abs/ceil/floor/round/power/sqrt/exp/ln/log2/log10/
log(b,x)/mod/sign/greatest/least/width_bucket/trig, cardinality,
array_position, array_distinct, array_intersect/union/except,
array_sort, array_min/max, array_join, slice, sequence, flatten,
transform, filter, reduce(a, s0, m [, f]) (Spark's ``aggregate``
alias), arrays_overlap, map_keys/values, map_concat, map_filter,
transform_keys/values, map_from_entries, map_entries, try_cast, CASE,
lambdas ``x -> f(x)``, random() (DOUBLE in [0, 1)) and
current_timezone() (the session zone: UTC under SESSION_CONFS).

UNNEST is fully handled (see ``_rewrite_unnest``): single-array, map,
multi-array, and WITH ORDINALITY over each — except ORDINALITY over
non-identifier array expressions, which stays untouched so Spark
raises (arrays_zip field naming is only defined for column refs).

Known-unsupported (left untouched so Spark raises — loud, never a
silent semantic change): TRY(expr) beyond the cast/arithmetic/try_*
shapes above (use the relational try_expr operator), json_size (a
get_json_object composition cannot distinguish a scalar STRING whose
text looks like JSON from a real array/object — Presto returns 0 for
the scalar; verified divergence, so no rewrite), Joda patterns beyond
the JDK-compatible subset.

Integer ``/``: Presto's ``/`` on two integer operands TRUNCATES toward
zero (bigint/bigint → bigint, ``7/2 = 3``, ``-7/2 = -3``) while Spark's
``/`` always returns DOUBLE (``3.5``).  ``sql()`` lets Spark's analyzer
type each ``/`` (see "Typing by probe"):

  * both operands integral      → Spark's ``div`` (truncates toward
                                   zero, BIGINT result, multiplicative
                                   precedence, DIVIDE_BY_ZERO under
                                   ANSI — all matching Presto)
  * either operand fractional   → left as ``/`` (DECIMAL scale rules
                                   differ between the engines but
                                   neither truncates — documented
                                   residue)
  * an operand Spark cannot
    resolve                      → Spark's own analysis error

``translate()`` alone has no types and keeps Spark's ``/``.
``TRY(a / b)`` over integers becomes
``try_cast(try_divide(a, b) as bigint)`` — NULL on zero-divide and on
bigint overflow like Presto's TRY; exact while |a/b| < 2^53 (the
double mantissa — beyond it the quotient quantizes before the cast).
"""

from __future__ import annotations

import functools
import itertools
import re
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from sparketl.session import local_frame

# Spark timestampadd/timestampdiff unit keywords (SQL identifiers).
_TIME_UNITS = {
    "year", "quarter", "month", "week", "day", "hour",
    "minute", "second", "millisecond", "microsecond",
}

_STR_SENTINEL = "\x00{}\x00"
_SENT_RE = re.compile("\x00(\\d+)\x00")

#: Presto to_iso8601's timestamp rendering as a Java pattern (the 'T'
#: is Java-quoted literal text; Presto emits millisecond precision)
_ISO_TS_PATTERN = "yyyy-MM-dd'T'HH:mm:ss.SSS"

# Java-regex metacharacters to escape when a Presto literal delimiter
# becomes a Spark split() regex.
_REGEX_META = set("\\^$.|?*+()[]{}")


def _mask(sql: str) -> tuple[str, list[str]]:
    """Replace string literals with sentinels; normalize double-quoted
    identifiers to backticks; strip comments.  Returns (masked,
    literals) where literals hold the *quoted* original text."""
    out: list[str] = []
    lits: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            if j >= n:
                raise ValueError("unterminated string literal in SQL")
            lits.append(sql[i : j + 1])
            out.append(_STR_SENTINEL.format(len(lits) - 1))
            i = j + 1
        elif c == '"':
            j = sql.find('"', i + 1)
            if j < 0:
                raise ValueError("unterminated quoted identifier in SQL")
            out.append("`" + sql[i + 1 : j] + "`")
            i = j + 1
        elif c == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif c == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i)
            i = n if j < 0 else j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out), lits


def _unmask(masked: str, lits: list[str]) -> str:
    """Re-inline string literals, doubling backslashes: Presto string
    literals are RAW (backslash has no escape meaning — ``'(\\d+)'``
    is a 5-char regex), while Spark's default parser processes escape
    sequences and would silently eat the backslash (``(\\d+)`` →
    ``(d+)``, a literal-d regex — the round-8 native-face sweep caught
    exactly this on str_regexp).  Doubling preserves the Presto bytes
    under Spark's escaping parser.  Literals the translator itself
    injects (e.g. parse_url parts) go into the masked text directly
    and are not affected."""

    def sub(m: re.Match) -> str:
        quoted = lits[int(m.group(1))]
        return "'" + quoted[1:-1].replace("\\", "\\\\") + "'"

    return _SENT_RE.sub(sub, masked)


def _shown(text: str, lits: list[str]) -> str:
    """Masked ``text`` for a message: each literal as it was written."""
    return _SENT_RE.sub(lambda m: lits[int(m.group(1))], text.strip())


def _inject_lit(lits: list[str], value: str) -> str:
    """Append a TRANSLATOR-INJECTED string literal to the literal pool
    and return its sentinel (ADVICE r10: raw quoted literals written
    into masked text break the masked-text-has-no-literals invariant —
    the quote-blind scanners (_split_args, _match_paren,
    _rewrite_subscripts) would mis-parse any future literal containing
    ',', '(' or '['.  Every injected literal goes through here).
    Quotes are doubled: _unmask
    re-emits the stored text verbatim between quotes, and Spark's
    parser reads '' as one quote."""
    lits.append("'" + value.replace("'", "''") + "'")
    return _STR_SENTINEL.format(len(lits) - 1)


def _match_paren(masked: str, op: int) -> int:
    """Index of the ')' closing the '(' at ``op`` (masked text has no
    string literals, so raw scanning is safe)."""
    depth, j = 1, op + 1
    while j < len(masked):
        if masked[j] == "(":
            depth += 1
        elif masked[j] == ")":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    raise ValueError("unbalanced parentheses in SQL")


def _split_args(argtext: str) -> list[str]:
    """Split a (masked, so quote-free) argument string on top-level
    commas."""
    args, depth, start = [], 0, 0
    for i, c in enumerate(argtext):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            args.append(argtext[start:i].strip())
            start = i + 1
    tail = argtext[start:].strip()
    if tail or args:
        args.append(tail)
    return args


def _lit_value(lits: list[str], token: str) -> str | None:
    """If ``token`` is exactly one string-literal sentinel, return its
    unquoted value, else None."""
    m = _SENT_RE.fullmatch(token.strip())
    if not m:
        return None
    quoted = lits[int(m.group(1))]
    return quoted[1:-1].replace("''", "'")


def _java_regex_escape(s: str) -> str:
    return "".join("\\" + c if c in _REGEX_META else c for c in s)


def _unit_fn(spark_name: str):
    """date_diff('unit', a, b) → timestampdiff(UNIT, a, b); same shape
    for date_add → timestampadd.  Only fires when the first argument is
    a string literal naming a known unit — other arities/forms (e.g.
    Spark's own 2-arg date_add) pass through untouched."""

    def make(args: list[str], lits: list[str]) -> str | None:
        if len(args) != 3:
            return None
        unit = _lit_value(lits, args[0])
        if unit is None or unit.lower() not in _TIME_UNITS:
            return None
        return f"{spark_name}({unit.upper()}, {args[1]}, {args[2]})"

    return make


def _extract_fn(args: list[str], lits: list[str]) -> str | None:
    """Presto ``extract(FIELD FROM x)`` fields where Spark's extract
    silently diverges or errors (each probed live, round 12):

    - DOW / DAY_OF_WEEK: Presto is ISO Monday=1..Sunday=7; Spark's DOW
      is Sunday=1..Saturday=7 (silent off-by-shift) and Spark rejects
      the DAY_OF_WEEK spelling.  Rewritten to the same (weekday(x)+1)
      the function-form day_of_week()/dow() already uses.
    - SECOND: Presto returns BIGINT with the fraction dropped; Spark
      returns decimal(8,6) carrying it (45.5 vs 45 on fractional-second
      data).  Rewritten to cast(extract(second from x) as bigint) —
      the decimal→bigint cast truncates toward zero, matching Presto
      on timestamps AND on intervals (second() would reject an
      interval operand that native extract handles — round-12 review).
    - YOW / YEAR_OF_WEEK: Spark spells the field YEAROFWEEK; the two
      Presto spellings error.

    All other fields (YEAR..MINUTE, QUARTER, WEEK, DOY, ...) agree and
    pass through.  The call scan (``_scan``) hands over ``x`` already
    translated and never scans the emitted ``extract(`` again.
    """
    if len(args) != 1:
        return None
    m = re.match(
        r"(\w+)\s+from\s+(.+)$", args[0].strip(), re.IGNORECASE | re.DOTALL
    )
    if not m:
        return None
    field, operand = m.group(1).lower(), m.group(2)
    if field in ("dow", "day_of_week"):
        return f"(weekday({operand}) + 1)"
    if field == "second":
        return f"cast(extract(second from {operand}) as bigint)"
    if field in ("yow", "year_of_week"):
        return f"extract(YEAROFWEEK from {operand})"
    return None


_TRY_BINOP = {
    "+": "try_add",
    "-": "try_subtract",
    "*": "try_multiply",
}


def _top_level_arith_ops(expr: str) -> list[tuple[int, str]]:
    """Positions of binary + - * / at paren/bracket depth 0 in a masked
    expression.  '-'/'+' count as binary only when preceded by an
    operand (identifier char, ')', ']', or a literal sentinel) and not
    as the exponent sign of scientific notation (``1e-5``)."""
    ops: list[tuple[int, str]] = []
    depth = 0
    for i, c in enumerate(expr):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c in "+-*/":
            j = i - 1
            while j >= 0 and expr[j].isspace():
                j -= 1
            if j < 0:
                continue  # leading unary sign
            prev = expr[j]
            if c in "+-":
                if not (prev.isalnum() or prev in ")]`\x00_"):
                    continue  # unary after another operator/comma
                if (
                    prev in "eE"
                    and j > 0
                    and (expr[j - 1].isdigit() or expr[j - 1] == ".")
                    and i + 1 < len(expr)
                    and expr[i + 1].isdigit()
                ):
                    # exponent sign (1e-5) — but ONLY when the digits
                    # before the e start a numeric literal, not an
                    # identifier tail (c1e-5 is the column c1e minus 5:
                    # review round 6 caught the precedence rewrite)
                    k = j - 1
                    while k >= 0 and (expr[k].isdigit() or expr[k] == "."):
                        k -= 1
                    if k < 0 or not (expr[k].isalpha() or expr[k] in "_`"):
                        continue
            ops.append((i, c))
    return ops


def _try_fn(args: list[str], lits: list[str]) -> str | None:
    """Presto TRY(expr) — NULL instead of an error — for the shapes
    Spark's try-family covers EXACTLY: TRY(cast(x as t)) → try_cast, a
    single binary + - * / over paren-free operands (column refs /
    literals) → try_add/subtract/multiply/divide, and TRY(try_*(...))
    → the inner call (already error-free).  Presto's TRY catches
    errors anywhere in its argument, so shapes whose OPERANDS could
    themselves error (nested calls, grouped subexpressions, multiple
    operators) return None → untouched, and Spark raises on the user's
    own text — loud, never a silently narrowed error scope."""
    if len(args) != 1:
        return None
    a = args[0].strip()
    m = re.match(r"(try_[a-z_0-9]+|cast)\s*\(", a, re.IGNORECASE)
    if m and _match_paren(a, m.end() - 1) == len(a) - 1:
        if m.group(1).lower() != "cast":
            return a
        # try_cast only catches the CAST failing; Presto's TRY also
        # catches errors while evaluating the operand (TRY(cast(1/0 as
        # int)) is NULL under ANSI).  Rewrite only when the operand is
        # a paren-free, arithmetic-free simple expression that cannot
        # itself error — anything else passes through loudly.
        inner = a[m.end() : len(a) - 1]
        if "(" not in inner and not _top_level_arith_ops(inner):
            return "try_" + a
        return None
    ops = _top_level_arith_ops(a)
    # Guard (round-11 review): the single-op branch must not fire when
    # an OPERAND carries a `div` — try(a div b + 1) as try_add(a div b,
    # 1) would leave the division OUTSIDE the TRY protection (ANSI
    # DIVIDE_BY_ZERO at runtime where Presto's TRY returns NULL).  Pass
    # through loudly instead.
    has_div = bool(re.search(r"\bdiv\b", a, re.IGNORECASE))
    if len(ops) == 1 and "(" not in a and not has_div:
        i, op = ops[0]
        left, right = a[:i].strip(), a[i + 1 :].strip()
        # A string-literal operand (masked sentinel) is a TYPE error:
        # Presto rejects TRY('x' + 1) at analysis time (TRY does not
        # catch type errors), while Spark's try_add('x', 1) would
        # return a silent NULL.  Pass through loudly instead.
        if left and right and not (_SENT_RE.search(left) or _SENT_RE.search(right)):
            # TRY(a / b) is marked: over integers it is Presto's
            # truncating division (``_STAND_INS``)
            fn = "__sparketl_trydiv" if op == "/" else _TRY_BINOP[op]
            return f"{fn}({left}, {right})"
    return None


def _top_level_order_by(text: str) -> "re.Match | None":
    """The first ORDER BY at paren depth 0 of ``text`` (an argument
    substring), or None.  A nested one (e.g. inside a scalar-subquery
    argument) belongs to the subquery — splitting on it would emit
    malformed SQL (ADVICE r11)."""
    dep = _depths(text)
    return next(
        (
            m
            for m in re.finditer(r"\border\s+by\b", text, re.IGNORECASE)
            if dep[m.start()] == 0
        ),
        None,
    )


def _array_agg_parts(args: list[str], lits: list[str]):
    """Presto ``array_agg(x ORDER BY k1 [ASC|DESC] [NULLS FIRST|LAST],
    ...)`` — Spark has no within-aggregate ORDER BY, so the ordered
    form composes as sort-then-project over a collected struct array.
    Returns ``(agg_sql, wrap)`` where ``agg_sql`` is the bare
    ``collect_list(struct(...))`` aggregate (so a windowed call can
    attach its OVER clause to it — round 12, VERDICT r11 #4) and
    ``wrap(agg_ref)`` builds the sort+project expression around it;
    None = plain array_agg, native pass-through.

    Two sort strategies:

    - DEFAULT orderings (uniform direction, no explicit NULLS): the
      flagged composition — ``array_sort`` over ``struct(k IS NULL,
      k, ..., x)`` pins Presto/Trino's null ordering ("null sorts as
      if larger than any non-null": ASC → NULLS LAST; DESC is the
      reverse() of the flagged ASC sort → NULLS FIRST) independent of
      Spark's field-comparator convention.  JVM-native comparison.
    - MIXED directions / explicit NULLS spellings (round 12, VERDICT
      r11 #3 — previously a documented refusal): a lambda COMPARATOR
      ``array_sort(arr, (l, r) -> ...)`` built as a linear chain of
      per-key comparators (``case when c0 <> 0 then c0 when c1 <> 0
      ...``, NOT nested — nesting doubles the text per key), each an
      explicit 5-branch CASE over null-null / null-left / null-right /
      < / >, with the requested (or Presto-default null-largest)
      ordering baked per key.  Property-differentialed against
      DuckDB's native ``array_agg(x ORDER BY ... NULLS ...)`` over
      random direction/NULLS combinations
      (tests/test_property_dialect.py).  Residual divergence: a NaN
      sort KEY on the comparator path ties against every non-null
      (both < and > are false), where Presto sorts NaN largest — the
      default path's array_sort handles NaN like Presto; don't use
      NaN keys with explicit NULLS spellings.  Comparator lambdas are
      CodegenFallback (interpreted) — the default path stays on the
      codegen'd sort.

    Each key is inlined twice on the default path (flag + sort field —
    the ngrams/random volatile-argument caveat: hoist nondeterministic
    keys to a column first).  NOTE a side upgrade: collect_list(
    struct(...)) KEEPS rows whose VALUE is NULL (the struct itself is
    non-null), matching Presto's array_agg exactly where the unordered
    name-map to collect_list documents the null-dropping divergence.
    """
    if not args:
        return None
    # multi-key ORDER BY commas split at the CALL-argument level too
    # (array_agg is 1-ary in Presto, so rejoining is unambiguous)
    text = ", ".join(args).strip()
    # no ORDER BY at depth 0 = plain array_agg, pass through
    ob = _top_level_order_by(text)
    if ob is None:
        return None
    val, keys_text = text[: ob.start()].strip(), text[ob.end() :].strip()
    if not val or not keys_text:
        return None
    exprs: list[str] = []
    dirs: list[str] = []
    nulls: list[str | None] = []
    for k in _split_args(keys_text):
        km = re.match(
            r"^(.*?)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?\s*$",
            k.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        exprs.append(km.group(1).strip())
        dirs.append((km.group(2) or "asc").lower())
        nulls.append(km.group(3).lower() if km.group(3) else None)
    default_order = len(set(dirs)) == 1 and not any(nulls)
    if default_order:
        fields = ", ".join(
            f"(({e}) is null) as __ob_n{i}, {e} as __ob_k{i}"
            for i, e in enumerate(exprs)
        )
        agg = f"collect_list(struct({fields}, {val} as __ob_v))"
        desc = dirs[0] == "desc"

        def wrap(agg_ref: str, desc=desc) -> str:
            inner = f"array_sort({agg_ref})"
            if desc:
                inner = f"reverse({inner})"
            return f"transform({inner}, __ob_s -> __ob_s.__ob_v)"

        return agg, wrap
    fields = ", ".join(
        f"{e} as __ob_k{i}" for i, e in enumerate(exprs)
    )
    agg = f"collect_list(struct({fields}, {val} as __ob_v))"
    cmp_chain = _ordering_comparator(
        [f"__ob_k{i}" for i in range(len(exprs))], dirs, nulls
    )

    def wrap(agg_ref: str, cmp_chain=cmp_chain) -> str:
        return (
            f"transform(array_sort({agg_ref}, (l, r) -> {cmp_chain}), "
            "__ob_s -> __ob_s.__ob_v)"
        )

    return agg, wrap


def _ordering_comparator(
    fields: list[str], dirs: list[str], nulls: list[str | None]
) -> str:
    """array_sort comparator text for a multi-key ordering with per-key
    direction and null placement.  Linear chain (first non-zero per-key
    comparison wins) — text size is O(keys), not O(2^keys)."""
    per_key = []
    for f, d, nu in zip(fields, dirs, nulls):
        asc = d == "asc"
        # Presto default: null sorts largest (ASC → last, DESC → first)
        nulls_first = (nu or ("first" if not asc else "last")) == "first"
        lt, gt = ("-1", "1") if asc else ("1", "-1")
        nl, nr = ("-1", "1") if nulls_first else ("1", "-1")
        per_key.append(
            f"case when l.{f} is null and r.{f} is null then 0 "
            f"when l.{f} is null then {nl} "
            f"when r.{f} is null then {nr} "
            f"when l.{f} < r.{f} then {lt} "
            f"when l.{f} > r.{f} then {gt} else 0 end"
        )
    if len(per_key) == 1:
        return per_key[0]
    arms = " ".join(
        f"when ({c}) <> 0 then ({c})" for c in per_key[:-1]
    )
    return f"case {arms} else ({per_key[-1]}) end"


def _minmax_by_n_parts(which: str):
    """Presto 3-arg ``min_by/max_by(x, y, n)`` — the n values of x for
    the n smallest/largest y, ordered by y (Spark's min_by/max_by are
    2-ary only).  Same sorted-struct composition as the ordered
    array_agg, returned as ``(agg_sql, wrap)`` so the windowed form can
    attach its OVER clause to the bare collect_list (round 12, VERDICT
    r11 #4): null-y rows are FILTERED (both Presto and DuckDB ignore
    them — post-collection, so the filter composes with a window
    frame), the null-flag field is then constant-false but keeps the
    struct shape uniform, and slice(…, 1, n) caps the result (n larger
    than the group returns the whole group, as in Presto).  Ties in y
    pick an unspecified x on every engine — the declared queries order
    by a unique key.  y is inlined twice (null flag + sort key — the
    ngrams/random volatile-argument caveat: hoist nondeterministic
    keys to a column first).  2-arg forms pass through (native
    Spark)."""

    def make(args: list[str], lits: list[str]):
        if len(args) != 3:
            return None
        x, y, n = args
        agg = (
            f"collect_list(struct(({y}) is null as __mb_n0, "
            f"{y} as __mb_k0, {x} as __mb_v))"
        )

        def wrap(agg_ref: str) -> str:
            arr = (
                f"array_sort(filter({agg_ref}, "
                "__mb_s -> not __mb_s.__mb_n0))"
            )
            if which == "max":
                arr = f"reverse({arr})"
            return (
                f"transform(slice({arr}, 1, {n}), __mb_s -> __mb_s.__mb_v)"
            )

        return agg, wrap

    return make


_WINDOW_DEF_RE = re.compile(
    r"\bwindow\s+([A-Za-z_]\w*)\s+as\s*\(", re.IGNORECASE
)
_WINDOW_CHAIN_RE = re.compile(
    r"\s*,\s*([A-Za-z_]\w*)\s+as\s*\(", re.IGNORECASE
)
#: tokens that can legally LEAD a window specification body — anything
#: else in first position is a window-name reference (Trino window
#: inheritance: ``WINDOW w2 AS (w1 ORDER BY ...)``).
_WINDOW_SPEC_LEADS = frozenset({"partition", "order", "rows", "range", "groups"})


def _named_window_specs(masked: str) -> dict[str, str | None]:
    """``WINDOW <name> AS (<spec>)`` definitions anywhere in the masked
    statement, lowercased name -> fully-inlined spec text.  Chained
    definitions (``WINDOW a AS (...), b AS (...)``) are walked; a spec
    leading with another window's name (Trino window inheritance) is
    expanded recursively.  A name defined twice (same name in two SELECT
    scopes — this textual resolver cannot tell which one an ``OVER
    <name>`` means), a cycle, or inheritance through either maps to
    None; callers refuse on None exactly as on an undefined name."""
    raw: dict[str, str | None] = {}
    for m in _WINDOW_DEF_RE.finditer(masked):
        name, op = m.group(1), m.end() - 1
        while True:
            cp = _match_paren(masked, op)
            key = name.lower()
            raw[key] = None if key in raw else masked[op + 1 : cp].strip()
            cm = _WINDOW_CHAIN_RE.match(masked, cp + 1)
            if not cm:
                break
            name, op = cm.group(1), cm.end() - 1

    def resolve(key: str, chain: frozenset) -> str | None:
        spec = raw.get(key)
        if spec is None:
            return None
        fm = re.match(r"([A-Za-z_]\w*)\b", spec)
        if not fm or fm.group(1).lower() in _WINDOW_SPEC_LEADS:
            return spec
        parent = fm.group(1).lower()
        if parent in chain or parent not in raw:
            return None
        base = resolve(parent, chain | {parent})
        if base is None:
            return None
        extra = spec[fm.end() :].strip()
        # anchored to clause position (ADVICE r13): a bare \b(rows|
        # range|groups)\b would match a COLUMN named `range` inside
        # `partition by range` and spuriously refuse a frameless parent
        if extra and re.search(
            r"\b(rows|range|groups)\s+(between|unbounded|current|\d+)\b",
            base,
            re.IGNORECASE,
        ):
            # SQL:2011 / Trino: a window with a frame cannot be
            # inherited from with additional clauses — appending them
            # after the frame would be unparseable anyway (round 13)
            raise ValueError(
                f"dialect: window inheritance from '{parent}' is "
                "invalid — the parent window specifies a frame, which "
                "SQL:2011/Trino forbid inheriting from; inline the "
                "full specification"
            )
        return f"{base} {extra}".strip()

    return {k: resolve(k, frozenset({k})) for k in raw}


def _expand_window_inheritance(masked: str) -> str:
    """Make every WINDOW-clause definition and OVER body SELF-CONTAINED
    (round-12 review): Spark's window grammar accepts a bare name, a
    parenthesized name, or a full inline spec — but NOT Trino's
    inheritance forms ``WINDOW w2 AS (w1 ORDER BY ...)`` / ``OVER (w1
    ORDER BY ...)``, which reached Spark as parse errors.  Definitions
    whose spec leads with another window's name are replaced by their
    fully-resolved spec; OVER bodies that lead with a name AND carry
    more clauses are expanded the same way (a body that IS just a name
    stays — Spark parses ``OVER (w)`` natively).  Unresolvable
    references (undefined/duplicated/cyclic) refuse loudly."""
    if not re.search(r"\bwindow\b|\bover\s*\(", masked, re.IGNORECASE):
        return masked
    specs = _named_window_specs(masked)
    spans: list[tuple[int, int, str]] = []
    for m in _WINDOW_DEF_RE.finditer(masked):
        name, op = m.group(1), m.end() - 1
        while True:
            cp = _match_paren(masked, op)
            body = masked[op + 1 : cp].strip()
            fm = re.match(r"([A-Za-z_]\w*)\b", body)
            if fm and fm.group(1).lower() not in _WINDOW_SPEC_LEADS:
                resolved = specs.get(name.lower())
                if resolved is None:
                    raise ValueError(
                        f"dialect: window '{name}' inherits from an "
                        "undefined, doubly-defined, or cyclic window "
                        "name — inline the definition"
                    )
                spans.append((op + 1, cp, resolved))
            cm = _WINDOW_CHAIN_RE.match(masked, cp + 1)
            if not cm:
                break
            name, op = cm.group(1), cm.end() - 1
    for om in re.finditer(r"\bover\s*\(", masked, re.IGNORECASE):
        cp = _match_paren(masked, om.end() - 1)
        body = masked[om.end() : cp].strip()
        fm = re.match(r"([A-Za-z_]\w*)\b", body)
        if (
            fm
            and fm.group(1).lower() not in _WINDOW_SPEC_LEADS
            and fm.end() < len(body)  # bare `over (w)` parses natively
        ):
            base = specs.get(fm.group(1).lower())
            if base is None:
                raise ValueError(
                    f"dialect: window inheritance from '{fm.group(1)}' "
                    "cannot be resolved — the named window is "
                    "undefined, defined more than once in the "
                    "statement, or inherits through a cycle; inline "
                    "the window definition"
                )
            # clause-position anchored, like the WINDOW-clause check
            # above (ADVICE r13): a column named rows/range/groups in
            # the parent's PARTITION BY is not a frame
            if re.search(
                r"\b(rows|range|groups)\s+(between|unbounded|current|\d+)\b",
                base,
                re.IGNORECASE,
            ):
                raise ValueError(
                    f"dialect: OVER ({fm.group(1)} ...) inherits from a "
                    "window that specifies a frame — SQL:2011/Trino "
                    "forbid this; inline the full specification"
                )
            spans.append(
                (om.end(), cp, f"{base} {body[fm.end():].lstrip()}".strip())
            )
    for s, e, rep in sorted(spans, reverse=True):
        masked = masked[:s] + rep + masked[e:]
    return masked


def _random_fn(args: list[str], lits: list[str]) -> str | None:
    """Presto random(n) → uniform bigint in [0, n); random(m, n) →
    uniform bigint in [m, n) (0-arg random() is Spark's too).  The
    integer forms keep Presto's half-open-range contract via
    floor(rand()*span) clamped to span-1 with least(): for spans near
    2^53 double rounding can make floor(rand()*span) == span, which
    would violate the half-open range.  Exactness caveat: spans above
    2^53 are not representable in the double multiply, so individual
    values quantize (uniformity over the full bigint range is NOT
    guaranteed there — same class of limit as Presto's own
    double-based implementation).  The bound expressions are inlined
    more than once (span and clamp both mention them); bounds are
    normally literals/columns, but a volatile bound expression would
    be evaluated per mention — callers with volatile bounds should
    hoist them to a column first.  Results are BIGINT (Presto returns
    the argument's integer type — callers needing INT cast
    explicitly)."""
    if len(args) == 1:
        n = args[0]
        return (
            f"least(cast(({n}) as bigint) - 1, "
            f"cast(floor(rand() * ({n})) as bigint))"
        )
    if len(args) == 2:
        m, n = args[0], args[1]
        span = f"(({n}) - ({m}))"
        return (
            f"(least(cast({span} as bigint) - 1, "
            f"cast(floor(rand() * {span}) as bigint)) + ({m}))"
        )
    return None


#: Presto/Trino duration units (parse_duration) → seconds.  Decimal
#: factors so the fold is exact; airlift's parser accepts exactly
#: these suffixes.
_DURATION_SECONDS = {
    "ns": "0.000000001",
    "us": "0.000001",
    "ms": "0.001",
    "s": "1",
    "m": "60",
    "h": "3600",
    "d": "86400",
}

_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)\s*(ns|us|ms|s|m|h|d)")


def _parse_duration(args: list[str], lits: list[str]) -> str | None:
    """Presto ``parse_duration('5.5m')`` → ``make_dt_interval(0, 0, 0,
    330.000)`` — Spark has no unit-suffix duration parser, so the
    translator folds the LITERAL at translate time (Decimal
    arithmetic, exact; rounded half-up to milliseconds, the precision
    of Presto's interval day-to-second result).  A non-literal
    argument is a DOCUMENTED REFUSAL (raise, not an unresolved-
    function error): no Spark expression can parse the unit suffix
    row-by-row without a UDF, and a silent passthrough would fail
    with a message that never names the fix."""
    from decimal import ROUND_HALF_UP, Decimal

    if len(args) != 1:
        return None
    val = _lit_value(lits, args[0])
    if val is None:
        raise ValueError(
            "dialect: parse_duration() translates only for a string-"
            f"literal argument (got {_shown(args[0], lits)!r}); Spark has no "
            "row-level duration parser — precompute seconds and use "
            "make_dt_interval(0, 0, 0, seconds) instead"
        )
    m = _DURATION_RE.fullmatch(val.strip())
    if m is None:
        raise ValueError(
            f"dialect: parse_duration({val!r}): not a valid Presto "
            "duration literal (expected '<number> <unit>', unit in "
            "ns|us|ms|s|m|h|d)"
        )
    secs = (
        Decimal(m.group(1)) * Decimal(_DURATION_SECONDS[m.group(2)])
    ).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP)
    return f"make_dt_interval(0, 0, 0, {secs})"


#: MySQL datetime format specifiers (Presto date_format/date_parse) →
#: Java DateTimeFormatter patterns.  Only specifiers with an EXACT
#: Java equivalent appear; Trino itself rejects %D/%U/%u/%V/%w/%X, and
#: %v/%x (ISO week/week-year) have no exact Java twin under Spark's
#: locale handling — all refuse.
_MYSQL_FMT: dict[str, str] = {
    "a": "EEE", "b": "MMM", "c": "M", "d": "dd", "e": "d",
    "f": "SSSSSS", "H": "HH", "h": "hh", "I": "hh", "i": "mm",
    "j": "DDD", "k": "H", "l": "h", "M": "MMMM", "m": "MM",
    "p": "a", "r": "hh:mm:ss a", "S": "ss", "s": "ss",
    "T": "HH:mm:ss", "W": "EEEE", "Y": "yyyy", "y": "yy",
}


def _mysql_to_java(fmt: str) -> str:
    """MySQL %-pattern → Java DateTimeFormatter pattern.  Literal text
    is RAW in MySQL patterns but letters are directives in Java, so
    literal runs containing letters (or quotes) are single-quoted.
    Raises the documented refusal on specifiers without an exact Java
    equivalent — a silent best-effort mapping is exactly the
    divergence this rewrite exists to kill."""
    toks: list[tuple[str, str]] = []
    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c == "%":
            if i + 1 >= n:
                raise ValueError(
                    f"dialect: date_format/date_parse pattern {fmt!r} ends "
                    "with a bare '%'"
                )
            sp = fmt[i + 1]
            if sp == "%":
                toks.append(("lit", "%"))
            elif sp in _MYSQL_FMT:
                toks.append(("pat", _MYSQL_FMT[sp]))
            else:
                raise ValueError(
                    f"dialect: MySQL datetime specifier %{sp} (in {fmt!r}) "
                    "has no exact Spark/Java equivalent — supported: "
                    + " ".join("%" + k for k in sorted(_MYSQL_FMT)) + " %%"
                )
            i += 2
        else:
            toks.append(("lit", c))
            i += 1
    out: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        if not buf:
            return
        s = "".join(buf)
        # letters are directives in Java patterns; #, {, }, [, ] are
        # RESERVED there (optional sections / padding) though literal
        # in MySQL patterns — all must be Java-quoted (review r10)
        if re.search(r"[A-Za-z'#{}\[\]]", s):
            s = "'" + s.replace("'", "''") + "'"
        out.append(s)
        buf.clear()

    last_directive = ""
    for kind, s in toks:
        if kind == "lit":
            buf.append(s)
            last_directive = ""
        else:
            flush()
            # adjacent directives whose letters touch would MERGE in
            # the Java pattern ('%H%H' → 'HHHH', which Spark rejects;
            # '%Y%Y' → an 8-digit year — silent padding change), and
            # Java has no zero-width separator to keep them apart —
            # refuse (property-test finding, r10)
            if last_directive and last_directive[-1] == s[0]:
                raise ValueError(
                    f"dialect: MySQL pattern {fmt!r} places two "
                    "specifiers with the same Java pattern letter "
                    "back-to-back — Java patterns cannot separate "
                    "them; insert any literal between them"
                )
            out.append(s)
            last_directive = s
    flush()
    return "".join(out)


def _date_format(args: list[str], lits: list[str]) -> str | None:
    """Presto ``date_format(x, '%Y-%m-%d')`` (and ``date_parse``, below)
    takes MySQL %-patterns, while Spark's same-named ``date_format``
    takes Java patterns — the same call text silently renders garbage
    ('%Y' is a literal-percent + week-year + ...).  A LITERAL pattern
    containing '%' is translated specifier-by-specifier (refusing the
    ones without exact equivalents) and injected as a literal sentinel
    (``_inject_lit``); a literal WITHOUT '%' raises the documented
    refusal (in genuine Presto text it means literal output, which
    Spark's Java reading would silently mangle — ADVICE r10;
    format_datetime is the Java-pattern front-door path), and a
    non-literal pattern passes through (documented divergence — the
    translator cannot tell MySQL from Java there)."""
    if len(args) != 2:
        return None
    val = _lit_value(lits, args[1])
    if val is None:
        return None
    if "%" not in val:
        raise ValueError(
            "dialect: date_format with a '%'-free literal pattern "
            f"({val!r}) is refused — Presto renders it as LITERAL "
            "text while Spark would read Java specifiers; use "
            "format_datetime(x, javaPattern) for Java patterns, or "
            "a MySQL %-pattern for Presto semantics"
        )
    return f"date_format({args[0]}, {_inject_lit(lits, _mysql_to_java(val))})"


def _date_parse(args: list[str], lits: list[str]) -> str | None:
    """Presto ``date_parse(s, '%d/%m/%Y')`` → ``to_timestamp`` with the
    pattern translated as in ``_date_format``.  Spark has no such
    function, so an untranslatable shape raises the documented refusal
    rather than an unresolved-function error."""
    if len(args) != 2:
        return None
    val = _lit_value(lits, args[1])
    if val is None:
        raise ValueError(
            "dialect: date_parse() translates only for a string-"
            f"literal MySQL pattern (got {_shown(args[1], lits)!r}); Spark "
            "has no MySQL-pattern parser — use to_timestamp with a "
            "Java pattern for dynamic formats"
        )
    if re.search(r"%y", val.replace("%%", "")):
        # PARSE-direction pivot divergence (review r10): Spark
        # resolves two-digit years to [2000, 2099], MySQL/Presto
        # pivot around 1970 — date_parse('75', '%y') would shift a
        # century silently.  The FORMAT direction is unaffected.
        raise ValueError(
            "dialect: date_parse with %y is refused — Spark's "
            "two-digit-year pivot ([2000, 2099]) differs from "
            "Presto's 1970-based pivot; use %Y with 4-digit years"
        )
    return f"to_timestamp({args[0]}, {_inject_lit(lits, _mysql_to_java(val))})"


_ATZ_RE = re.compile(r"\bat\s+time\s+zone\b", re.IGNORECASE)


def _rewrite_at_time_zone(masked: str) -> str:
    """Presto ``expr AT TIME ZONE zone`` → ``from_utc_timestamp(expr,
    zone)`` under the engine's UTC-pinned session (SESSION_CONFS):
    Presto interprets a zoneless timestamp at the SESSION zone (UTC
    here — same instant) and re-renders it at the target zone;
    from_utc_timestamp computes exactly that wall-clock.  DOCUMENTED
    DIVERGENCE: Spark has no timestamp-with-time-zone type, so the
    result is the target-zone WALL CLOCK without the ' America/…'
    zone suffix — extract()/date_format()/comparisons downstream
    agree, rendering the zone name does not.

    Operand scanning is bounded on purpose: the base expression must
    be an identifier chain, a (masked) literal — including the typed
    ``timestamp '…'`` form — or a parenthesized/call group, and the
    zone must be a string literal or identifier chain.  Anything
    fancier raises the documented refusal (Spark's parser has no AT
    TIME ZONE at all, so the raw text could only ever die with an
    unhelpful syntax error — r9 verdict gap #1)."""
    while True:
        m = _ATZ_RE.search(masked)
        if m is None:
            return masked
        if re.match(r"\s*interval\b", masked[m.end() :], re.IGNORECASE):
            # Presto's INTERVAL-offset form (ts AT TIME ZONE INTERVAL
            # '1' HOUR): no Spark equivalent takes an interval zone —
            # refuse with the fix rather than emit broken text
            # (review r10: the bare regex would have matched
            # `interval` as the zone identifier)
            raise ValueError(
                "dialect: AT TIME ZONE INTERVAL '...' (fixed-offset "
                "form) is not translated — spell the offset as a "
                "named zone string (e.g. '+01:00' is accepted by "
                "from_utc_timestamp as 'GMT+01:00') or add the "
                "interval to the timestamp directly"
            )
        zm = re.match(
            r"\s*(\x00\d+\x00|[A-Za-z_][\w.]*)", masked[m.end() :]
        )
        start = _subscript_base_start(masked, m.start())
        if zm is None or start is None:
            raise ValueError(
                "dialect: AT TIME ZONE translates only for a simple base "
                "expression (column, literal, or call) and a literal/"
                "column zone — parenthesize the operand, e.g. "
                "(expr) AT TIME ZONE 'America/Los_Angeles'"
            )
        # typed literal: include the TIMESTAMP/DATE keyword in the base
        if _SENT_RE.fullmatch(masked[start : m.start()].strip()):
            kw = re.search(r"(?i)\b(timestamp|date)\s*$", masked[:start])
            if kw is not None:
                start = kw.start()
        base = masked[start : m.start()].rstrip()
        # CHAINED AT TIME ZONE collapses to the LAST zone (review r10):
        # Presto keeps one instant through the chain and re-renders at
        # each zone, so `x AT TIME ZONE z1 AT TIME ZONE z2` displays
        # the instant of x at z2 — but our left-to-right pass has
        # already turned the inner link into from_utc_timestamp(x, z1),
        # whose output is z1 WALL CLOCK (the zone tag Spark can't
        # carry).  Wrapping that again would shift the offset TWICE.
        # Presto text cannot itself contain from_utc_timestamp (not a
        # Presto function), so a base of that exact shape is always
        # this loop's own output: unwrap it and re-render the original
        # instant at the new zone.  Presto's zoned from_unixtime(e, z)
        # (or (e, h, m)) is the instant e rendered at a zone the same
        # way: it re-renders from from_unixtime(e).
        chain = re.match(r"(from_utc_timestamp|(?i:from_unixtime))\s*\(", base)
        if chain and _match_paren(base, chain.end() - 1) == len(base) - 1:
            inner = _split_args(base[chain.end() : -1])
            if chain.group(1) == "from_utc_timestamp" and len(inner) == 2:
                base = inner[0]
            elif chain.group(1) != "from_utc_timestamp" and len(inner) in (2, 3):
                base = f"from_unixtime({inner[0]})"
        zend = m.end() + zm.end()
        masked = (
            masked[:start]
            + f"from_utc_timestamp({base}, {zm.group(1)})"
            + masked[zend:]
        )


def _split_fn(args: list[str], lits: list[str]) -> str | None:
    """Presto split(s, delim[, limit]) — delim is a LITERAL; Spark's is
    a Java regex.  Literal delimiters are regex-escaped; non-literal
    delimiter expressions get \\Q..\\E regex quoting."""
    if len(args) not in (2, 3):
        return None
    d = _lit_value(lits, args[1])
    if d is not None:
        delim = _inject_lit(lits, _java_regex_escape(d))
    else:
        delim = f"concat('\\\\Q', {args[1]}, '\\\\E')"
    return "split(" + ", ".join([args[0], delim, *args[2:]]) + ")"


_UNNEST_RE = re.compile(r"(?:cross\s+join|,)\s*unnest\s*\(", re.IGNORECASE)
_UNNEST_TAIL_RE = re.compile(
    r"\s*(with\s+ordinality\s+)?as\s+(\w+)\s*\(\s*([\w\s,]*?)\s*\)",
    re.IGNORECASE,
)


_OFFSET_FETCH_RE = re.compile(
    r"(?:offset\s+(\d+)\s+(?:rows?\s+)?)?"
    r"fetch\s+(?:first|next)\s+(?:(\d+)\s+)?rows?\s+(only|with\s+ties)",
    re.IGNORECASE,
)


_TIES_RE = re.compile(
    r"(offset\s+\d+\s+(?:rows?\s+)?)?"
    r"fetch\s+(?:first|next)\s+(?:(\d+)\s+)?rows?\s+with\s+ties",
    re.IGNORECASE,
)
_ORDER_BY_RE = re.compile(r"\border\s+by\b", re.IGNORECASE)


def _split_top_commas(text: str) -> list[str]:
    """Split ``text`` at depth-0 commas."""
    tdep = _depths(text)
    items, start = [], 0
    for i, c in enumerate(text):
        if c == "," and tdep[i] == 0:
            items.append(text[start:i])
            start = i + 1
    items.append(text[start:])
    return items


#: SQL type words that follow CAST's AS — never read as an alias
#: definition (that would take the cast OPERAND as its expression).
_TYPE_WORDS = frozenset({
    "boolean", "tinyint", "smallint", "int", "integer", "bigint",
    "real", "double", "decimal", "numeric", "float", "varchar", "char",
    "string", "varbinary", "binary", "date", "timestamp", "time",
    "interval", "array", "map", "row", "struct", "json", "uuid",
})
_SETOP_RE = re.compile(r"\b(union|intersect|except)\b", re.IGNORECASE)


def _rewrite_with_ties(masked: str) -> str:
    """``ORDER BY k FETCH FIRST n ROWS WITH TIES`` → a ``rank() <= n``
    subquery (VERDICT r12 #3).  Spark has no ties-aware limit, but the
    semantics are exactly rank-over-the-ORDER-BY-key.

    Two splice shapes, because Trino's ORDER BY sees BOTH the scope's
    output aliases and its input columns while a Spark window sees only
    one of them at a time:

    - plain SELECT scope: the rank column is injected into the scope's
      own select list (so keys naming non-projected input columns — a
      Trino-legal shape — resolve), with key references to the scope's
      own ``expr AS alias`` select items textually substituted by their
      definitions (Spark refuses lateral column aliases inside window
      specs);
    - DISTINCT or set-operation scope: injecting would change the
      DISTINCT/branch semantics, so the whole body is wrapped and
      ranked from outside — keys must be output columns there, which is
      exactly what Trino requires of those scopes too.

    Both shapes filter ``__ties_rk <= n``, drop the helper with Spark's
    ``* EXCEPT``, and ORDER BY the rank itself (monotone in the keys, so
    the output is key-ordered like Trino's; order among ties is
    unspecified in both engines).  Refusals match Trino's own errors:
    no ORDER BY in the scope, ordinal keys (rank over an integer
    literal would rank by a constant), and OFFSET+TIES (offset applies
    pre-rank; not composable textually)."""
    while True:
        # innermost-first keeps depths stable across the splice
        dep = _depths(masked)
        best = None
        for m in _TIES_RE.finditer(masked):
            if best is None or dep[m.start()] > dep[best.start()]:
                best = m
        if best is None:
            return masked
        m = best
        d = dep[m.start()]
        if m.group(1):
            raise ValueError(
                "dialect: OFFSET ... FETCH ... WITH TIES is refused — "
                "the offset applies before the tie-extended limit and "
                "the composition is not expressible as one rank() "
                "filter; apply the OFFSET in an outer query"
            )
        ob = None
        for om in _ORDER_BY_RE.finditer(masked, 0, m.start()):
            if dep[om.start()] == d and min(
                dep[om.start() : m.start()]
            ) >= d:
                ob = om
        if ob is None:
            raise ValueError(
                "dialect: FETCH ... WITH TIES requires ORDER BY in the "
                "same query scope (Trino errors here too)"
            )
        keys = masked[ob.end() : m.start()].strip()
        if any(
            re.match(r"\s*\d+\s*(asc|desc|nulls|$)", it, re.IGNORECASE)
            for it in _split_top_commas(keys)
        ):
            raise ValueError(
                "dialect: FETCH ... WITH TIES with ordinal ORDER BY "
                "keys is refused — rank() over an integer literal "
                "would rank by a constant; name the column instead"
            )
        s = 0
        if d > 0:
            j = ob.start() - 1
            while j >= 0 and not (masked[j] == "(" and dep[j] == d - 1):
                j -= 1
            s = j + 1
        body = masked[s : ob.start()].strip()
        n = m.group(2) or "1"
        prologue = ""
        if re.match(r"with\b", body, re.IGNORECASE):
            # CTE scope (ADVICE r13): the inject/wrap decision belongs
            # to the final top-level SELECT after the CTE prologue —
            # routing the whole WITH body into the wrap shape made
            # Trino-legal non-projected rank keys die unresolved
            pdep = _depths(body)
            sm0 = next(
                (
                    x
                    for x in re.finditer(r"\bselect\b", body, re.IGNORECASE)
                    if pdep[x.start()] == 0
                ),
                None,
            )
            if sm0 is not None:
                prologue, body = body[: sm0.start()], body[sm0.start() :]
        sel = re.match(r"\s*select\s+(distinct\b|all\b)?", body, re.IGNORECASE)
        bdep = _depths(body)
        setop = any(
            bdep[om.start()] == 0 for om in _SETOP_RE.finditer(body)
        )
        frm = None
        if sel and not setop and not (
            sel.group(1) and sel.group(1).lower() == "distinct"
        ):
            for fm in re.finditer(r"\bfrom\b", body, re.IGNORECASE):
                if bdep[fm.start()] == 0:
                    frm = fm
                    break
        if frm is not None:
            # inject shape: rank in the scope's own select list, with
            # same-scope select aliases substituted into the keys
            aliases: dict[str, str] = {}
            for item in _split_top_commas(body[sel.end() : frm.start()]):
                am = re.match(
                    r"(.+?)\s+as\s+(\w+)\s*$", item.strip(),
                    re.IGNORECASE | re.DOTALL,
                )
                if am and am.group(2).lower() not in _TYPE_WORDS:
                    aliases[am.group(2).lower()] = am.group(1).strip()
            kx = keys
            for name, expr in aliases.items():
                kx = re.sub(
                    rf"(?<![\w.]){re.escape(name)}(?![\w.(])",
                    f"({expr})",
                    kx,
                    flags=re.IGNORECASE,
                )
            aug = (
                prologue
                + body[: frm.start()]
                + f", rank() over (order by {kx}) as __ties_rk "
                + body[frm.start() :]
            )
        else:
            # wrap shape: DISTINCT / set-operation scopes — keys must be
            # output columns (Trino requires the same of these scopes)
            aug = (
                f"select __tq.*, rank() over (order by {keys}) as "
                f"__ties_rk from ({prologue}{body}) as __tq"
            )
        masked = (
            masked[:s]
            + f"select * except(__ties_rk) from ({aug}) "
            f"where __ties_rk <= {n} order by __ties_rk"
            + masked[m.end() :]
        )


def _rewrite_fetch_first(masked: str) -> str:
    """ANSI/Trino ``[OFFSET n [ROWS]] FETCH {FIRST|NEXT} [k] ROWS
    ONLY`` → Spark ``LIMIT k [OFFSET n]`` (Spark's grammar wants LIMIT
    before OFFSET — the opposite of Trino's clause order, so both are
    rewritten together when adjacent; a bare OFFSET without FETCH is
    left alone, Spark accepts it natively).  ``WITH TIES`` rewrites to
    a rank() subquery first (`_rewrite_with_ties`); reaching the ONLY
    regex with a TIES match means the pre-pass could not place it."""

    def repl(m: "re.Match") -> str:
        if m.group(3).lower().startswith("with"):
            raise ValueError(
                "dialect: FETCH ... WITH TIES is refused — Spark has no "
                "ties-aware limit; express it as rank() over the ORDER "
                "BY key filtered <= n"
            )
        k = m.group(2) or "1"
        return (
            f"limit {k} offset {m.group(1)}" if m.group(1) else f"limit {k}"
        )

    # prepared-statement parameters splice as `(N)` — unwrap a fully
    # parenthesized lone integer after the count keywords so the digit
    # patterns below (and Spark's LIMIT literal grammar) see plain N
    masked = re.sub(
        r"\b(offset|first|next|limit)\s+\(\s*(\d+)\s*\)",
        r"\1 \2",
        masked,
        flags=re.IGNORECASE,
    )
    masked = _rewrite_with_ties(masked)
    masked = _OFFSET_FETCH_RE.sub(repl, masked)
    # Trino's clause order also allows OFFSET before a plain LIMIT —
    # Spark wants LIMIT first
    masked = re.sub(
        r"\boffset\s+(\d+)\s+(?:rows?\s+)?limit\s+(\d+|all)\b",
        lambda m: f"limit {m.group(2)} offset {m.group(1)}",
        masked,
        flags=re.IGNORECASE,
    )
    # standalone Trino `OFFSET n ROWS` (no FETCH): Spark's OFFSET
    # clause takes a bare count — drop the noise word
    return re.sub(
        r"\b(offset\s+\d+)\s+rows?\b", r"\1", masked, flags=re.IGNORECASE
    )


#: the exclusion clause is the LAST element of a window specification,
#: so requiring the closing paren keeps a column actually named
#: `exclude` (`select exclude group by ...`) out of the match.
_FRAME_EXCLUDE_RE = re.compile(
    r"\s*\bexclude\s+(no\s+others|current\s+row|group|ties)\s*(?=\))",
    re.IGNORECASE,
)


_REAL_EXCLUDE_RE = re.compile(
    r"\bexclude\s+(current\s+row|group|ties)\s*$", re.IGNORECASE
)


def _inline_excluding_windows(masked: str) -> str:
    """A named WINDOW definition carrying a real EXCLUDE mode cannot be
    composed in place — the exclusion rewrite needs the OWNING
    aggregate, and one definition may serve many (round 13).  Inline
    such definitions into their plain ``OVER w`` / ``OVER (w)`` users
    and drop them from the WINDOW clause, so `_rewrite_frame_exclude`
    sees only inline specs.  Runs AFTER `_expand_window_inheritance`,
    so every definition is already self-contained and every inheriting
    OVER body is already expanded.  A hot definition still referenced
    from another WINDOW definition cannot remain (its text is gone) —
    inheritance expansion guarantees none are."""
    if not re.search(r"\bwindow\b", masked, re.IGNORECASE) or not re.search(
        r"\bexclude\b", masked, re.IGNORECASE
    ):
        return masked
    specs = _named_window_specs(masked)
    hot = {
        k: v
        for k, v in specs.items()
        if v and _REAL_EXCLUDE_RE.search(v)
    }
    if not hot:
        return masked
    for name, spec in hot.items():
        masked = re.sub(
            rf"\bover\s*\(\s*{name}\s*\)|\bover\s+{name}\b",
            f"over ({spec})",
            masked,
            flags=re.IGNORECASE,
        )
    # rebuild each WINDOW clause keeping only the cold definitions
    out, pos = [], 0
    for m in _WINDOW_DEF_RE.finditer(masked):
        if m.start() < pos:
            continue  # a chain element already consumed
        defs = []
        name, op = m.group(1), m.end() - 1
        end = op
        while True:
            cp = _match_paren(masked, op)
            defs.append((name, masked[op + 1 : cp].strip()))
            end = cp + 1
            cm = _WINDOW_CHAIN_RE.match(masked, cp + 1)
            if not cm:
                break
            name, op = cm.group(1), cm.end() - 1
        kept = [
            f"{n} as ({s})" for n, s in defs if n.lower() not in hot
        ]
        out.append(masked[pos : m.start()])
        if kept:
            out.append("window " + ", ".join(kept))
        pos = end
    out.append(masked[pos:])
    return "".join(out)


#: frames whose bounds exclude the current row anyway — EXCLUDE
#: CURRENT ROW is then a no-op and is simply stripped.  The bound
#: ADJACENT to the current row must be nonzero (ADVICE r13): `0
#: PRECEDING`/`0 FOLLOWING` IS the current row, so `3 PRECEDING AND 0
#: PRECEDING` contains it and must fall through to the exact
#: composition / refusal paths, not the strip.
_FRAME_SANS_CURRENT_RE = re.compile(
    r"between\s+(?:unbounded|\d+)\s+preceding\s+and\s+[1-9]\d*\s+preceding"
    r"|between\s+[1-9]\d*\s+following\s+and\s+(?:unbounded|\d+)\s+following",
    re.IGNORECASE,
)


#: the frame clause inside a window specification (frame keyword
#: anchored to clause position — a column named rows/range/groups in
#: PARTITION BY must not match)
_FRAME_CLAUSE_RE = re.compile(
    r"\b(rows|range|groups)\s+(?=between\b|unbounded\b|current\b|\d)",
    re.IGNORECASE,
)


#: a RANGE frame PROVABLY containing the current row (and therefore,
#: RANGE peers being at key-distance 0, the ENTIRE peer group) — the
#: condition under which EXCLUDE GROUP/TIES compose as full-frame
#: aggregate minus peer-frame aggregate.  A ROWS frame never
#: qualifies: peers may extend beyond its row-offset bounds, and
#: SQL:2011 excludes only peers INSIDE the frame.
_RANGE_HAS_CURRENT_RE = re.compile(
    r"^range\s+(?:"
    r"between\s+(?:current\s+row|(?:unbounded|\d+)\s+preceding|0\s+following)"
    r"\s+and\s+(?:current\s+row|(?:unbounded|\d+)\s+following|0\s+preceding)"
    r"|(?:unbounded|\d+)\s+preceding"
    r"|current\s+row"
    r")\s*$",
    re.IGNORECASE,
)


def _exclude_refusal(mode: str) -> str:
    return (
        f"dialect: window frame EXCLUDE {mode.upper()} is refused "
        "for this aggregate/frame — count(*)/count(x)/integer-sum "
        "auto-compose exactly (CURRENT ROW on any frame; "
        "GROUP/TIES on RANGE frames containing the current row, "
        "where the peer group provably sits inside the frame); "
        "ROWS-frame GROUP/TIES and float/avg/distinct carriers "
        "need the engine composition operators "
        "(sparketl.operators.windows, the win_frame_exclude / "
        "win_groups_exclude faces), which implement exclusion as "
        "frame-sum differences"
    )


def _isum_mark(mode: str) -> str:
    """The marker of a composed ``sum(x)``: exact only for integral x."""
    return "__sparketl_isum_" + mode.replace(" ", "_")


def _isum_refusal(mark: str) -> str:
    return _exclude_refusal(
        mark.removeprefix("__sparketl_isum_").replace("_", " ")
    )


def _rewrite_frame_exclude(masked: str) -> str:
    """SQL:2011 window frame exclusion (VERDICT r12 #5).  ``EXCLUDE NO
    OTHERS`` is the default semantics on every engine — strip it.
    ``EXCLUDE CURRENT ROW`` auto-composes for EXACT carriers, where
    full-frame-aggregate-minus-own-contribution is value-identical to
    the native clause:

    - ``count(*)`` → ``count(*) over (frame) - 1``
    - ``count(x)`` → minus 1 only when x is non-null on this row
    - ``sum(x)`` with x integral (a marker the typed entry points
      check, ``_STAND_INS``) → ``sum - coalesce(x, 0)``, NULL-gated on
      the excluded frame's non-null count (the same two edge repairs
      the engine face win_frame_exclude documents: empty/all-null
      excluded frame → NULL, NULL current row subtracts nothing)

    ``EXCLUDE GROUP``/``TIES`` (round 14, VERDICT r13 #6) auto-compose
    for the same exact carriers when the frame is a RANGE frame
    containing the current row — there the peer group (key-distance 0)
    provably sits inside the frame, and exclusion is full-frame
    aggregate minus the RANGE(0,0) peer-frame aggregate, NULL-gated on
    the remaining non-null count exactly like the engine faces
    (operators/windows.py _excluded_frame_cols); TIES adds the current
    row's own contribution back.  A ROWS frame never composes: peers
    may extend past its row-offset bounds and SQL:2011 excludes only
    peers INSIDE the frame, which a textual splice cannot see.

    Frames whose bounds already exclude the current row (both ends
    PRECEDING / both FOLLOWING, nonzero near bound) make CURRENT ROW a
    no-op — stripped; on RANGE frames they exclude the whole peer
    group too, so GROUP/TIES strip there as well.  Float/avg/distinct
    shapes, ROWS/GROUPS-frame GROUP/TIES, and default frames keep the
    loud refusal toward the engine composition operators
    (win_frame_exclude* / win_groups_exclude, SURVEY.md §2
    #155/#160)."""
    matches = list(_FRAME_EXCLUDE_RE.finditer(masked))
    if not matches:
        return masked
    dep = _depths(masked)

    def refuse(mode: str) -> None:
        raise ValueError(_exclude_refusal(mode))

    for m in reversed(matches):
        mode = " ".join(m.group(1).split()).lower()
        if mode == "no others":
            masked = masked[: m.start()] + masked[m.end() :]
            continue
        d = dep[m.start()]
        spec_open = m.start() - 1
        while spec_open >= 0 and not (
            masked[spec_open] == "(" and dep[spec_open] == d - 1
        ):
            spec_open -= 1
        spec = masked[spec_open + 1 : m.start()].strip()
        fm = _FRAME_CLAUSE_RE.search(spec)
        frame_txt = spec[fm.start() :].strip() if fm else ""
        if mode == "current row" and _FRAME_SANS_CURRENT_RE.search(spec):
            masked = masked[: m.start()] + masked[m.end() :]
            continue
        if mode in ("group", "ties"):
            if frame_txt.lower().startswith(
                "range"
            ) and _FRAME_SANS_CURRENT_RE.search(frame_txt):
                # RANGE frame with a nonzero near bound: peers are all
                # at key-distance 0, outside the frame — GROUP
                # excludes nothing, strip (a ROWS frame may still hold
                # peers even without the current row, so no strip
                # there).  TIES on such a frame REFUSES: engines
                # disagree whether "retaining the current row" re-ADDS
                # it to a frame that never contained it (DuckDB does,
                # probed live), so a silent choice would diverge.
                if mode == "group":
                    masked = masked[: m.start()] + masked[m.end() :]
                    continue
                raise ValueError(
                    "dialect: EXCLUDE TIES on a frame that does not "
                    "contain the current row is refused — engines "
                    "disagree whether the current row is re-added to "
                    "the frame; spell the intended frame explicitly"
                )
            if fm is None or not _RANGE_HAS_CURRENT_RE.match(frame_txt):
                # ROWS/GROUPS frames (peers may extend past the
                # bounds), default frames, and exotic shapes keep the
                # loud refusal
                refuse(mode)
        # the aggregate that owns this OVER: `<fn>(<args>) over (`
        j = spec_open - 1
        while j >= 0 and masked[j].isspace():
            j -= 1
        if j < 3 or masked[j - 3 : j + 1].lower() != "over":
            refuse(mode)
        j -= 4
        while j >= 0 and masked[j].isspace():
            j -= 1
        if j < 0 or masked[j] != ")":
            refuse(mode)
        rp = j
        lp = rp - 1
        while lp >= 0 and not (
            masked[lp] == "(" and dep[lp] == dep[rp]
        ):
            lp -= 1
        fend = lp
        fstart = lp
        while fstart > 0 and (
            masked[fstart - 1].isalnum() or masked[fstart - 1] == "_"
        ):
            fstart -= 1
        fn = masked[fstart:fend].strip().lower()
        arg = masked[lp + 1 : rp].strip()
        if re.match(r"distinct\b", arg, re.IGNORECASE):
            refuse(mode)
        if mode == "current row":
            if fn == "count" and arg in ("*", "1"):
                repl_expr = f"(count({arg}) over ({spec}) - 1)"
            elif fn == "count":
                repl_expr = (
                    f"(count({arg}) over ({spec}) - "
                    f"(case when ({arg}) is null then 0 else 1 end))"
                )
            elif fn == "sum":
                repl_expr = (
                    f"(case when count({arg}) over ({spec}) - "
                    f"(case when ({arg}) is null then 0 else 1 end) > 0 "
                    f"then sum({_isum_mark(mode)}({arg})) over ({spec}) "
                    f"- coalesce({arg}, 0) else null end)"
                )
            else:
                refuse(mode)
        else:
            # GROUP/TIES on a RANGE frame containing the current row
            # (checked above): the peer group IS the RANGE(0,0) frame
            # over the same partition/order, so exclusion composes as
            # full-frame aggregate minus peer-frame aggregate — the
            # same NULL-gated subtraction the engine faces run
            # (operators/windows.py _excluded_frame_cols); TIES adds
            # the current row's own contribution back
            peer = (
                f"{spec[: fm.start()].strip()} "
                "range between current row and current row"
            )
            self_n = f"(case when ({arg}) is null then 0 else 1 end)"
            if fn == "count" and arg in ("*", "1"):
                rest = (
                    f"count({arg}) over ({spec}) - "
                    f"count({arg}) over ({peer})"
                )
                repl_expr = (
                    f"({rest})" if mode == "group" else f"({rest} + 1)"
                )
            elif fn == "count":
                rest = (
                    f"count({arg}) over ({spec}) - "
                    f"count({arg}) over ({peer})"
                )
                repl_expr = (
                    f"({rest})"
                    if mode == "group"
                    else f"({rest} + {self_n})"
                )
            elif fn == "sum":
                nv = (
                    f"count({arg}) over ({spec}) - "
                    f"count({arg}) over ({peer})"
                )
                tot = (
                    f"sum({_isum_mark(mode)}({arg})) over ({spec}) - "
                    f"coalesce(sum({arg}) over ({peer}), 0)"
                )
                if mode == "ties":
                    nv = f"{nv} + {self_n}"
                    tot = f"{tot} + coalesce({arg}, 0)"
                repl_expr = (
                    f"(case when {nv} > 0 then {tot} else null end)"
                )
            else:
                refuse(mode)
        # replace `<fn>(<args>) over (<spec> exclude ...)` inclusive of
        # the spec's closing paren (m.end() sits just before it)
        masked = masked[:fstart] + repl_expr + masked[m.end() + 1 :]
    return masked


#: a GROUPS frame clause at spec position (same anchoring discipline
#: as _FRAME_CLAUSE_RE: the keyword must lead a frame-bound
#: continuation, so a COLUMN named `groups` in `groups between 1 and
#: 5` never matches)
_GROUPS_FRAME_KW_RE = re.compile(
    r"\bgroups\s+(?=(?:between\s+)?"
    r"(?:unbounded\s+preceding|current\s+row|\d+\s+(?:preceding|following)))",
    re.IGNORECASE,
)

_GROUPS_REFUSE = (
    "dialect: this GROUPS frame cannot be auto-composed — {why}. "
    "Spark's window grammar has no GROUPS mode; the front door "
    "rewrites it definitionally (dense_rank() over the window ORDER "
    "BY in a derived table, then a RANGE frame on the rank — the "
    "win_groups_frame/win_groups_frame_bounds/win_groups_exclude "
    "engine faces, SURVEY.md §2 #160) for single-table-reference "
    "SELECT blocks without GROUP BY; restructure the query or use "
    "the engine operators"
)

#: block-level clause heads that terminate the FROM / WHERE segments
_GROUPS_CLAUSE_RE = re.compile(
    r"\b(where|group\s+by|having|window|qualify|order\s+by|limit|"
    r"offset|fetch|union|intersect|except)\b",
    re.IGNORECASE,
)

_GROUPS_IDENT = r"[A-Za-z_][\w$]*"
_GROUPS_TBL_RE = re.compile(
    rf"^({_GROUPS_IDENT}(?:\s*\.\s*{_GROUPS_IDENT}){{0,2}})"
    rf"(?:\s+(?:as\s+)?({_GROUPS_IDENT}))?$",
    re.IGNORECASE | re.DOTALL,
)


def _enclosing_select(masked: str, dep: list, pos: int) -> "re.Match | None":
    """The SELECT keyword whose block (paren scope) contains ``pos``:
    the nearest preceding `select` at depth <= dep[pos] with no paren
    closing below its own depth between the two (an expression may sit
    inside extra non-subquery parens, so equal depth alone is not
    enough)."""
    best = None
    for sm in re.finditer(r"\bselect\b", masked[:pos], re.IGNORECASE):
        if dep[sm.start()] <= dep[pos]:
            best = sm
    while best is not None:
        bd = dep[best.start()]
        if min(dep[best.start() : pos + 1]) >= bd:
            return best
        prev = None
        for sm in re.finditer(
            r"\bselect\b", masked[: best.start()], re.IGNORECASE
        ):
            if dep[sm.start()] <= bd:
                prev = sm
        best = prev
    return None


def _rewrite_groups_frames(masked: str, lits: list[str]) -> str:
    """SQL:2011 GROUPS frame mode → the definitional dense_rank+RANGE
    composition (round 15, VERDICT r14 #2 — the last refusing SQL:2011
    frame class; the composition itself has been hash-green as the
    win_groups_frame* engine faces since round 14).

    A GROUPS frame counts PEER GROUPS (rows tied on the window ORDER
    BY), which Spark's grammar cannot spell.  But ``dense_rank()``
    over the same partition/order numbers peer groups consecutively,
    so a RANGE frame of the same bounds on the rank IS the GROUPS
    frame — group-position distance ≡ dense-rank distance, with no
    gaps by construction, for EVERY carrier aggregate (the frame
    membership is identical; nothing is approximated).  The rank
    cannot be computed in the same window stage (windows cannot nest),
    so the block's FROM..WHERE is wrapped in a derived table that adds
    one ``__setl_grp<i>`` column per distinct (partition, order) spec:

        select a, sum(v) over (partition by p order by k
                               groups between 1 preceding and 1 following)
        from t where q
    →
        select a, sum(v) over (partition by p order by __setl_grp0
                               range between 1 preceding and 1 following)
        from (select *, dense_rank() over (partition by p order by k)
                        as __setl_grp0
              from t where q) as t

    WHERE moves inside (window functions evaluate over the filtered
    rows, so the ranks must too); the derived table is aliased with
    the original alias (or the bare table name) so qualified column
    references keep resolving; a bare ``*`` projection becomes
    ``* except(<helpers>)`` so the result schema is unchanged.  An
    EXCLUDE clause after the frame survives the rewrite verbatim and
    then composes through _rewrite_frame_exclude — the rank-RANGE
    frame contains the current row whenever the GROUPS frame did, and
    its RANGE(0,0) peer frame IS the peer group (win_groups_exclude's
    exact composition).

    Refused loudly (toward the engine faces): multi-table/JOIN FROM
    (the wrap cannot preserve two alias scopes), blocks with GROUP
    BY/HAVING (ranks over aggregated output need an explicit
    subquery), qualified-star projections, and GROUPS without a
    window ORDER BY (SQL:2011 requires one)."""
    for _ in range(32):
        m = _GROUPS_FRAME_KW_RE.search(masked)
        if m is None:
            return masked
        masked = _rewrite_groups_block(masked, m.start(), lits)
    raise ValueError(
        _GROUPS_REFUSE.format(why="the rewrite did not converge")
    )


def _rewrite_groups_block(masked: str, pos: int, lits: list[str]) -> str:
    dep = _depths(masked)

    def refuse(why: str) -> None:
        raise ValueError(_GROUPS_REFUSE.format(why=why))

    if dep[pos] == 0:
        refuse("the GROUPS clause sits outside any window specification")
    sel = _enclosing_select(masked, dep, pos)
    if sel is None:
        refuse("no enclosing SELECT block was found")
    bd = dep[sel.start()]
    end = len(masked)
    for i in range(sel.end(), len(masked)):
        if dep[i] < bd:
            end = i
            break
    for km in _GROUPS_CLAUSE_RE.finditer(masked, sel.end(), end):
        if dep[km.start()] == bd and km.group(1).lower() in (
            "union",
            "intersect",
            "except",
        ):
            end = km.start()
            break
    # block-level clause map
    from_m = None
    for km in re.finditer(r"\bfrom\b", masked, re.IGNORECASE):
        if sel.end() <= km.start() < end and dep[km.start()] == bd:
            from_m = km
            break
    if from_m is None:
        refuse("the SELECT block has no FROM clause")
    clauses = [
        km
        for km in _GROUPS_CLAUSE_RE.finditer(masked, from_m.end(), end)
        if dep[km.start()] == bd
    ]
    for km in clauses:
        if km.group(1).lower().split()[0] in ("group", "having"):
            refuse(
                "the block aggregates (GROUP BY/HAVING) — rank the "
                "aggregated output in an explicit subquery instead"
            )
    from_end = clauses[0].start() if clauses else end
    where_start = where_end = None
    if clauses and clauses[0].group(1).lower() == "where":
        where_start = clauses[0].start()
        where_end = clauses[1].start() if len(clauses) > 1 else end
    fs = masked[from_m.end() : from_end].strip()
    # single table reference: `name [as alias]` or `(subquery) [as a]`
    alias = ""
    if fs.startswith("("):
        cp = _match_paren(fs, 0)
        trail = fs[cp + 1 :].strip()
        if trail:
            am = re.match(
                rf"^(?:as\s+)?({_GROUPS_IDENT})$", trail, re.IGNORECASE
            )
            if not am:
                refuse(
                    "the FROM clause is not a single table reference "
                    f"(trailing text {_shown(trail, lits)[:40]!r})"
                )
            alias = am.group(1)
    else:
        tm = _GROUPS_TBL_RE.match(fs)
        if not tm:
            refuse(
                "the FROM clause is not a single table reference "
                "(joins/lists cannot be wrapped without breaking "
                "alias scopes)"
            )
        alias = tm.group(2) or re.split(r"\s*\.\s*", tm.group(1))[-1]
    # every GROUPS spec belonging to THIS block
    specs = []
    for gm in _GROUPS_FRAME_KW_RE.finditer(masked, sel.end(), end):
        so = gm.start() - 1
        while so >= 0 and not (
            masked[so] == "(" and dep[so] == dep[gm.start()] - 1
        ):
            so -= 1
        own = _enclosing_select(masked, dep, so)
        if own is not None and own.start() == sel.start():
            specs.append((so, _match_paren(masked, so)))
    if not specs:  # the trigger belongs to a nested block — recurse there
        return _rewrite_groups_block(masked, pos)
    rank_cols: dict[str, tuple[str, str, str]] = {}
    repls: list[tuple[int, int, str]] = []
    for so, sc in specs:
        st = masked[so + 1 : sc]
        sdep = _depths(st)
        om = next(
            (
                k
                for k in re.finditer(
                    r"\border\s+by\b", st, re.IGNORECASE
                )
                if sdep[k.start()] == 0
            ),
            None,
        )
        gm = next(
            (
                k
                for k in _GROUPS_FRAME_KW_RE.finditer(st)
                if sdep[k.start()] == 0
            ),
            None,
        )
        if gm is None:
            continue  # a nested GROUPS (subquery inside the spec?) — next pass
        if om is None or om.start() > gm.start():
            refuse("a GROUPS frame requires a window ORDER BY")
        part_txt = st[: om.start()].strip()
        order_txt = st[om.start() : gm.start()].strip()
        key = re.sub(r"\s+", " ", f"{part_txt}|{order_txt}".lower())
        if key not in rank_cols:
            rank_cols[key] = (
                f"__setl_grp{len(rank_cols)}",
                part_txt,
                order_txt,
            )
        col = rank_cols[key][0]
        new_spec = " ".join(
            p
            for p in (
                part_txt,
                f"order by {col}",
                "range " + st[gm.end() :].strip(),
            )
            if p
        )
        repls.append((so + 1, sc, new_spec))
    rank_defs = ", ".join(
        f"dense_rank() over ({(p + ' ') if p else ''}{o}) as {c}"
        for c, p, o in rank_cols.values()
    )
    helper_names = ", ".join(c for c, _p, _o in rank_cols.values())
    # projection stars: bare `*` keeps its schema via EXCEPT; a
    # qualified `a.*` would expose the helpers through the alias
    sel_body_start = sel.end()
    dm = re.match(
        r"\s*(distinct|all)\b", masked[sel_body_start:], re.IGNORECASE
    )
    if dm:
        sel_body_start += dm.end()
    for star in re.finditer(r"\*", masked, re.IGNORECASE):
        if not (sel_body_start <= star.start() < from_m.start()):
            continue
        if dep[star.start()] != bd:
            continue
        before = masked[sel_body_start : star.start()].rstrip()
        after = masked[star.end() : from_m.start()].lstrip()
        if before.endswith("."):
            refuse(
                "a qualified `alias.*` projection would expose the "
                "injected rank helper columns"
            )
        if (before == "" or before.endswith(",")) and (
            after == "" or after.startswith(",")
        ):
            repls.append(
                (star.start(), star.end(), f"* except({helper_names})")
            )
    # wrap FROM [WHERE] into the rank-bearing derived table
    inner_tail = (
        " " + masked[where_start:where_end].strip()
        if where_start is not None
        else ""
    )
    region_end = where_end if where_start is not None else from_end
    wrapped = (
        f" from (select *, {rank_defs} from {fs}{inner_tail})"
        + (f" as {alias}" if alias else "")
        + " "
    )
    repls.append((from_m.start(), region_end, wrapped))
    for s, e, rep in sorted(repls, reverse=True):
        masked = masked[:s] + rep + masked[e:]
    return masked


_TABLESAMPLE_RE = re.compile(
    r"\btablesample\s+(bernoulli|system)\s*\(\s*([0-9]+(?:\.[0-9]+)?)\s*\)",
    re.IGNORECASE,
)


def _rewrite_tablesample(masked: str) -> str:
    """Trino ``TABLESAMPLE BERNOULLI(p)`` / ``SYSTEM(p)`` → Spark
    ``TABLESAMPLE (p PERCENT)``.  BERNOULLI is the same row-level
    Bernoulli sample on both engines; SYSTEM (block sampling, which
    Trino documents as implementation-defined) degrades to row-level —
    every SYSTEM guarantee still holds, the sample is just
    finer-grained.  Nondeterministic on both engines, so faces using
    it are rows-only, like sample_bernoulli."""
    return _TABLESAMPLE_RE.sub(
        lambda m: f"tablesample ({m.group(2)} percent)", masked
    )


def _row_type_to_struct(body: str) -> str:
    """A Presto ROW type's field list (``name type, ...``) → the Spark
    ``struct<name: type, ...>`` spelling; nested ROW types recurse.
    Anonymous fields (``ROW(bigint, varchar)``) refuse — Spark struct
    casts need field names, and naming is the entire point of the
    Presto CAST-to-ROW idiom."""
    fields = []
    for it in _split_args(body):
        it = it.strip()
        fm = re.match(r"([A-Za-z_]\w*)\s+(.+)$", it, re.DOTALL)
        if not fm:
            raise ValueError(
                "dialect: CAST to an anonymous ROW type is refused — "
                "Spark struct casts need field names: ROW(name type, ...)"
            )
        name, typ = fm.group(1), fm.group(2).strip()
        rm = re.match(r"row\s*\(", typ, re.IGNORECASE)
        if rm:
            cp = _match_paren(typ, rm.end() - 1)
            if cp != len(typ) - 1:
                raise ValueError(
                    f"dialect: cannot parse ROW type field '{it}'"
                )
            typ = _row_type_to_struct(typ[rm.end() : cp])
        fields.append(f"{name}: {typ}")
    return "struct<" + ", ".join(fields) + ">"


def _rewrite_row_constructor(masked: str) -> str:
    """Presto ``ROW(a, b, ...)`` value constructor → Spark
    ``struct(a, b, ...)`` (field access `.field` works identically on
    the result), and the field-NAMING idiom ``CAST(... AS ROW(f1 t1,
    ...))`` → ``CAST(... AS struct<f1: t1, ...>)`` — Spark's struct
    cast renames fields and casts leaves, the same semantics (nested
    ROW types recurse; anonymous ROW types refuse)."""
    pat = re.compile(r"\brow\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if not m:
            return masked
        if re.search(r"\bas\s*$", masked[: m.start()], re.IGNORECASE):
            cp = _match_paren(masked, m.end() - 1)
            spark_t = _row_type_to_struct(masked[m.end() : cp])
            masked = masked[: m.start()] + spark_t + masked[cp + 1 :]
            pos = m.start() + len(spark_t)
            continue
        masked = masked[: m.start()] + "struct" + masked[m.end() - 1 :]
        pos = m.start() + len("struct")


def _rewrite_unnest(masked: str) -> str:
    """Presto UNNEST forms → Spark LATERAL VIEW:

    - ``UNNEST(arr) AS t(c)``              → ``explode(arr) t AS c``
    - ``UNNEST(m) AS t(k, v)``             → ``explode(m) t AS k, v``
      (map form; an array-of-ROW expansion would need ONE Spark column,
      so the alias-count mismatch raises loudly rather than silently
      re-interpreting)
    - ``UNNEST(a, b, …) AS t(x, y, …)``    → ``inline(arrays_zip(a, b,
      …)) t AS x, y, …``  (both engines zip to the longest input,
      padding with NULLs)
    - ``UNNEST(arr) WITH ORDINALITY AS t(c, ord)`` →
      ``inline(transform(arr, (__x, __i) -> struct(__x, cast(__i + 1
      as bigint)))) t AS c, ord``  (1-based like Presto; empty arrays
      produce zero rows — a naive zip-with-sequence(1, size) would
      emit Spark's descending [1,0] sequence for empty input)
    - ``UNNEST(a, b, …) WITH ORDINALITY AS t(x, y, …, ord)`` →
      ``inline(transform(arrays_zip(a, b, …), (__z, __i) ->
      struct(__z.a, __z.b, …, cast(__i + 1 as bigint)))) t AS x, y,
      …, ord``.  Works because ``arrays_zip`` over plain column
      references names each struct field after its source column, so
      the lambda can re-expand positionally; restricted to
      (possibly-qualified) identifier arguments with distinct terminal
      names — anything fancier stays untouched (Spark raises — loud)."""
    pos = 0
    while True:
        m = _UNNEST_RE.search(masked, pos)
        if not m:
            return masked
        cp = _match_paren(masked, m.end() - 1)
        exprs = _split_args(masked[m.end() : cp])
        tail = _UNNEST_TAIL_RE.match(masked, cp + 1)
        if not tail:
            pos = m.end()
            continue
        ordinal, alias = bool(tail.group(1)), tail.group(2)
        cols = [c.strip() for c in tail.group(3).split(",") if c.strip()]
        repl = None
        if not ordinal and len(exprs) == 1 and len(cols) in (1, 2):
            repl = (
                f" lateral view explode({exprs[0]}) {alias}"
                f" as {', '.join(cols)}"
            )
        elif not ordinal and len(exprs) >= 2 and len(cols) == len(exprs):
            repl = (
                f" lateral view inline(arrays_zip({', '.join(exprs)}))"
                f" {alias} as {', '.join(cols)}"
            )
        elif ordinal and len(exprs) == 1 and len(cols) == 2:
            repl = (
                f" lateral view inline(transform({exprs[0]},"
                f" (__x, __i) -> struct(__x, cast(__i + 1 as bigint))))"
                f" {alias} as {cols[0]}, {cols[1]}"
            )
        elif ordinal and len(exprs) >= 2 and len(cols) == len(exprs) + 1:
            # arrays_zip names each field after its source column's
            # terminal identifier; require plain refs + distinct names
            terminals = [e.strip().rsplit(".", 1)[-1] for e in exprs]
            if all(
                re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*", e.strip())
                for e in exprs
            ) and len(set(terminals)) == len(terminals):
                fields = ", ".join(f"__z.{t}" for t in terminals)
                repl = (
                    f" lateral view inline(transform("
                    f"arrays_zip({', '.join(e.strip() for e in exprs)}),"
                    f" (__z, __i) -> struct({fields},"
                    f" cast(__i + 1 as bigint))))"
                    f" {alias} as {', '.join(cols)}"
                )
        if repl is None:
            pos = m.end()
            continue
        masked = masked[: m.start()] + repl + masked[tail.end() :]
        pos = m.start() + 1


def _match_bracket(masked: str, ob: int) -> int:
    """Index of the ']' closing the '[' at ``ob``."""
    depth, j = 1, ob + 1
    while j < len(masked):
        if masked[j] == "[":
            depth += 1
        elif masked[j] == "]":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    raise ValueError("unbalanced brackets in SQL")


def _rewrite_array_literals(masked: str) -> str:
    """Presto ``ARRAY[e1, e2, …]`` → Spark ``array(e1, e2, …)``.
    Rescans inside each replacement so nested literals translate."""
    pat = re.compile(r"\barray\s*\[", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if not m:
            return masked
        cb = _match_bracket(masked, m.end() - 1)
        inner = masked[m.end() : cb]
        masked = masked[: m.start()] + "array(" + inner + ")" + masked[cb + 1 :]
        pos = m.start() + len("array(")


def _subscript_base_start(masked: str, i: int) -> int | None:
    """For a '[' at ``i``, find where the subscripted base expression
    starts (identifier/dotted chain, call, or chained subscript), or
    None if the bracket doesn't follow a subscriptable expression."""
    j = i - 1
    while j >= 0 and masked[j].isspace():
        j -= 1
    if j < 0:
        return None
    c = masked[j]
    if c in ")]":
        close, opn = c, "(" if c == ")" else "["
        depth = 0
        while j >= 0:
            if masked[j] == close:
                depth += 1
            elif masked[j] == opn:
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if depth != 0:
            return None
        # the name of a call, spaces before its '(' or not; a keyword
        # before a parenthesised expression is no call name
        k = j - 1
        while k >= 0 and masked[k].isspace():
            k -= 1
        name = _chain_start(masked, k)
        if name is None or name > k or masked[name : k + 1].lower() in _KEYWORDS:
            return j
        return name
    return _chain_start(masked, j)


#: SQL words that stand before a parenthesised expression, never a
#: call name: ``a and (x)[1]`` subscripts ``(x)``.
_KEYWORDS = frozenset({
    "all", "and", "any", "between", "by", "case", "distinct", "else",
    "exists", "from", "having", "in", "is", "like", "not", "on", "or",
    "over", "select", "some", "then", "when", "where",
})


def _chain_start(masked: str, j: int) -> int | None:
    """Where the name chain that ends at ``j`` starts: words, dots,
    literal sentinels and whole backticked names, spaces included
    (`` `quoted id` ``).  ``j + 1`` when no name ends there; None for
    an unmatched backtick."""
    while j >= 0:
        if masked[j] == "`":
            j = masked.rfind("`", 0, j)
            if j < 0:
                return None
        elif not (masked[j].isalnum() or masked[j] in "_.\x00"):
            break
        j -= 1
    return j + 1


def _rewrite_subscripts(masked: str) -> str:
    """Presto ``expr[k]`` (1-based array index / map key) → Spark
    ``try_element_at(expr, k)``.  Spark's native ``[]`` is 0-BASED for
    arrays — the silent off-by-one is the worst porting bug this
    translator prevents.  try_element_at matches the translator's
    element_at policy (NULL on out-of-bounds/missing rather than the
    ANSI error).  Runs after the clause passes that consume the other
    brackets (ARRAY literals, UNNEST aliases) and before the call scan,
    which rewrites the base and index like any other text (no call
    rule emits a bracket)."""
    pos = 0
    while True:
        i = masked.find("[", pos)
        if i < 0:
            return masked
        cb = _match_bracket(masked, i)
        inner = masked[i + 1 : cb].strip()
        start = _subscript_base_start(masked, i)
        if start is None or not inner or len(_split_args(inner)) != 1:
            pos = i + 1
            continue
        base = masked[start:i].rstrip()
        if not base:
            pos = i + 1
            continue
        repl = f"try_element_at({base}, {inner})"
        masked = masked[:start] + repl + masked[cb + 1 :]
        pos = start + len("try_element_at(")


_MR_HEAD = re.compile(
    r"\bfrom\s+([A-Za-z_][\w.]*)\s+match_recognize\s*\(", re.IGNORECASE
)
_MR_PATTERN = re.compile(
    r"^\(\s*(\w+)"  # start variable
    # middle: bare var or parenthesized alternation (B|C|...)
    r"(?:\s+(\w+|\(\s*\w+(?:\s*\|\s*\w+)+\s*\))"
    # quantifier: * + {m} {m,} {m,n}
    r"\s*([*+]|\{\s*\d+\s*(?:,\s*\d*\s*)?\}))?"
    r"\s+(\w+)\s*\)$"
)


def _mr_quant_bounds(quant: str) -> tuple[int, int | None]:
    """Interior-row-count bounds (lo, hi) for a middle quantifier:
    ``*`` → (0, None), ``+`` → (1, None), ``{m}`` → (m, m),
    ``{m,}`` → (m, None), ``{m,n}`` → (m, n)."""
    if quant == "*":
        return 0, None
    if quant == "+":
        return 1, None
    body = quant.strip()[1:-1].replace(" ", "")
    if "," not in body:
        return int(body), int(body)
    lo, hi = body.split(",", 1)
    return int(lo), (int(hi) if hi else None)
_MR_FORBIDDEN = re.compile(
    r"\b(classifier|match_number|first|last|prev|next|final|running)\s*\(",
    re.IGNORECASE,
)
#: supported navigation shape: bare FIRST/LAST/PREV/NEXT over one
#: var.col (no offsets, no nesting) — anything else stays forbidden
_MR_NAV = re.compile(
    r"\b(first|last|prev|next)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)", re.IGNORECASE
)


def _rewrite_match_recognize(masked: str, lits: list[str]) -> str:
    """SQL:2016 / Trino row-pattern matching, RESTRICTED shape:

        FROM t MATCH_RECOGNIZE (
          PARTITION BY p [, ...]  ORDER BY o [, ...]
          MEASURES <expr over A./C. columns> AS alias [, ...]
          [ONE ROW PER MATCH | ALL ROWS PER MATCH]
          [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
          PATTERN (A M C)    -- M = B* | B+ | B{m} | B{m,} | B{m,n}
                             --   | (B1|B2|...) with the same
                             --   quantifiers, or absent (A C)
          DEFINE A AS pred, B.. AS pred, C AS pred )

    → windowed Spark SQL.  Why this is sound (and why ONLY these
    shapes): with MUTUALLY EXCLUSIVE row-local defines, DISTINCT
    pattern variables, and a start / middle-set / end pattern, greedy
    matching with SKIP PAST LAST ROW reduces to "start-rows whose
    next non-middle row is the end symbol" — a candidate start inside
    an accepted match would carry a middle or end symbol, never the
    start symbol, so non-overlap is automatic and the whole construct
    becomes two window functions plus an equi self-join on
    (partition, row number).  AFTER MATCH SKIP TO NEXT ROW (round 11)
    is accepted too, and needs NO separate machinery: the formulation
    already evaluates every start-symbol row as an independent match
    anchor — precisely the resume-at-start+1 semantics — and since no
    row inside an accepted match can carry the start symbol, PAST
    LAST ROW attempts exactly the same anchors; the two modes
    coincide on this shape (per-start brute-force differential in
    tests/test_property_match_recognize.py).  Quantifiers add only a predicate on the
    interior-row count (rank span - 1): ``+`` → >=1, ``{m,n}`` →
    BETWEEN — a middle run longer than n cannot match a shorter
    prefix either, because the row after n middles still carries a
    middle symbol, so the next-non-middle row remains the only
    candidate end.  Alternation ``(B1|B2)*`` changes only the symbol
    classification and the not-in set: which middle symbol each
    interior row carries is irrelevant to the machinery.  With no
    middle variable (A C), "next non-middle" degenerates to row
    adjacency — same proof.  The declared queries
    ``row_pattern_funnel`` (B*) and ``row_pattern_funnel_alt``
    (alternation) are this rewrite's output shape, oracle-verified
    against DuckDB, and tests/test_property_match_recognize.py
    differential-tests every accepted quantifier/alternation shape
    against Python's regex engine on hypothesis-generated sequences.

    ALL ROWS PER MATCH (round 9): one output row per MATCHED input
    row, built by joining base rows into the non-overlapping match
    spans (equi on partition keys + rank-range filter).  Measures
    follow Trino's default RUNNING semantics: A-measures are match
    constants (A is matched from row one), count(*) is the running
    prefix length, and C-measures are NULL until the end row — sound
    only for NULL-STRICT expressions, so NULL-tolerant constructs
    (coalesce/case/is null/...) over C refs refuse, as do var-free
    measures (universal-variable semantics not modeled) and the
    SHOW/OMIT EMPTY MATCHES / WITH UNMATCHED ROWS modifiers.
    The __mr_* helper columns are stripped from the row star
    (``* except``), so ``select *`` sees Trino's schema.

    REQUIREMENT checked at run time, not at translation: the DEFINE
    predicates must be mutually exclusive per row (symbol
    classification is positional in full MATCH_RECOGNIZE; overlapping
    defines would need a sequential matcher), so a row satisfying
    more than one raises (see _mr_sym_case).  Everything else
    non-conforming —
    subquery base, repeated variables (A B* A would silently empty,
    so it refuses), duplicate DEFINEs, expression PARTITION BY keys,
    other patterns (A+, anchors, nested groups; PERMUTE translates
    ONLY with SKIP TO NEXT ROW + ONE ROW PER MATCH — see
    _rewrite_mr_permute), AFTER MATCH
    SKIP TO the start variable (Trino's infinite-skip error),
    navigation/CLASSIFIER in measures or defines, references
    to middle variables in measures — is left untouched so Spark
    fails loudly on the MATCH_RECOGNIZE keyword rather than silently
    mis-matching."""
    m = _MR_HEAD.search(masked)
    if not m:
        return masked
    base = m.group(1)
    cp = _match_paren(masked, m.end() - 1)
    block = masked[m.end() : cp]

    # section split on the (fixed-order) MATCH_RECOGNIZE keywords
    def section(name: str, nxt: list[str]) -> str | None:
        s = re.search(rf"\b{name}\b", block, re.IGNORECASE)
        if not s:
            return None
        end = len(block)
        for n in nxt:
            e = re.search(rf"\b{n}\b", block[s.end() :], re.IGNORECASE)
            if e:
                end = min(end, s.end() + e.start())
        return block[s.end() : end].strip()

    part = section("partition\\s+by", ["order\\s+by"])
    order = section(
        "order\\s+by",
        ["measures", "one\\s+row", "all\\s+rows", "after\\s+match", "pattern"],
    )
    meas = section(
        "measures", ["one\\s+row", "all\\s+rows", "after\\s+match", "pattern"]
    )
    patt = section("pattern", ["define"])
    defs = section("define", [])
    if not (part and order and meas and patt and defs):
        return masked
    all_rows = False
    ar = re.search(
        r"\ball\s+rows\s+per\s+match\b(.*?)(?=\bafter\s+match\b|\bpattern\b)",
        block,
        re.IGNORECASE | re.DOTALL,
    )
    if ar:
        # bare ALL ROWS PER MATCH only: the SHOW/OMIT EMPTY MATCHES and
        # WITH UNMATCHED ROWS modifiers change which rows appear —
        # refuse them (our patterns cannot produce empty matches, so
        # bare = one output row per matched input row)
        if ar.group(1).strip():
            return masked
        all_rows = True
    # EVERY standard AFTER MATCH skip mode except PERMUTE-adjacent
    # shapes translates (rounds 11): the windowed formulation evaluates
    # a candidate match at EVERY start-symbol row independently — which
    # is exactly SKIP TO NEXT ROW — and with mutually-exclusive defines
    # no row inside a match can carry the start symbol, so the
    # resumption point never changes WHICH anchors can succeed:
    #   PAST LAST ROW    resumes at e+1; anchors in (s, e] are middle/
    #                    end rows, never starts — same match set
    #   TO FIRST m       resumes at the first middle row (s+1 ≤ … < e);
    #                    every skipped anchor is the start row itself —
    #                    same match set.  Trino ERRORS when the match
    #                    contains no such row, reproduced by a
    #                    raise_error guard on empty-interior matches
    #                    (only reachable when the quantifier lower
    #                    bound is 0)
    #   TO [LAST] m      resumes at the last middle row < e; anchors in
    #                    (s, last-m) are middles — same match set, same
    #                    guard
    #   TO [FIRST|LAST] C  resumes at the end row; C is always present
    #                      in a match, no guard needed — same set
    #   TO [FIRST|LAST] A  Trino raises (resuming at the match's own
    #                      first row would loop) — left untouched, loud
    # The per-start brute-force differentials in
    # tests/test_property_match_recognize.py check the claims,
    # including the skip-to algorithm's anchor walk.
    am = re.search(r"\bafter\s+match\s+(.*?)\bpattern\b", block, re.IGNORECASE | re.DOTALL)
    skip_var: str | None = None
    if am:
        am_txt = am.group(1)
        m_tovar = re.fullmatch(
            r"skip\s+to\s+(?:(?:first|last)\s+)?(\w+)\s*",
            am_txt,
            re.IGNORECASE,
        )
        if re.fullmatch(
            r"skip\s+(?:past\s+last\s+row|to\s+next\s+row)\s*",
            am_txt,
            re.IGNORECASE,
        ):
            pass
        elif m_tovar and m_tovar.group(1).lower() not in ("next",):
            skip_var = m_tovar.group(1)
        else:
            return masked
    pm = _MR_PATTERN.match(patt)
    if not pm:
        # PERMUTE(V1..Vk) (round 11): with mutually-exclusive defines
        # the row→variable mapping is FORCED, so a match at anchor r is
        # just "the k rows r..r+k-1 carry k DISTINCT pattern symbols" —
        # a pure lead-window check, no joins.  Matches CAN overlap
        # (any variable may start one), so only AFTER MATCH SKIP TO
        # NEXT ROW — which evaluates every anchor — is sound
        # declaratively; PAST LAST ROW's greedy non-overlap selection
        # is a sequential per-partition chain (necessity pinned by
        # tests/test_property_match_recognize.py::
        # test_permute_past_last_is_not_windowable) and raises a
        # refusal pointing at the engine operator that implements it
        # (operators.analytics.permute_greedy_select — candidates by
        # the same window check, then a per-partition greedy kernel).
        skip_next = bool(
            am
            and re.fullmatch(
                r"skip\s+to\s+next\s+row\s*", am.group(1), re.IGNORECASE
            )
        )
        # Trino's DEFAULT when AFTER MATCH is omitted is PAST LAST ROW
        skip_past = am is None or bool(
            re.fullmatch(
                r"skip\s+past\s+last\s+row\s*", am.group(1), re.IGNORECASE
            )
        )
        return _rewrite_mr_permute(
            masked, m, cp, base, part, order, meas, patt, defs,
            all_rows, skip_next, skip_past, lits,
        )
    va, vb, quant, vc = pm.groups()
    if vb is None:
        middles: list[str] = []
    elif vb.startswith("("):
        middles = [v.strip() for v in vb.strip()[1:-1].split("|")]
    else:
        middles = [vb]
    names = [va, *middles, vc]
    # Distinct pattern variables REQUIRED: with va == vc (A B* A) the
    # first-match case classification would never emit the end symbol
    # and the rewrite would silently return empty where Trino matches.
    # Refuse → loud Spark parse failure instead (round-9 fix).
    if len(set(names)) != len(names):
        return masked
    lo, hi = _mr_quant_bounds(quant) if quant else (0, 0)
    if hi is not None and hi < lo:  # degenerate {m,n} with n<m: refuse
        return masked
    # SKIP TO var validation (see the skip-mode table above): middles
    # and the end variable translate; the start variable (Trino's
    # infinite-skip error) and unknown names stay untouched → loud.
    skip_guard = False
    skip_alt = False
    if skip_var is not None:
        if skip_var in middles:
            if len(middles) == 1:
                # the variable is absent exactly when the interior is
                # empty — only reachable with a 0 lower bound
                skip_guard = lo == 0
            else:
                # alternation: a match can have a NONEMPTY interior
                # mapped entirely to the OTHER variables — the guard
                # must inspect the classifier-tagged span (__mr_mid),
                # not the interior count
                skip_guard = skip_alt = True
        elif skip_var != vc:
            return masked
        if skip_guard and all_rows:
            # the guard rides a ONE-ROW measure; shapes that can lack
            # the variable stay untouched under ALL ROWS → loud
            return masked

    preds: dict[str, str] = {}
    n_defs = 0
    for d in _split_args(defs):
        dm = re.match(r"^(\w+)\s+as\s+(.*)$", d.strip(), re.IGNORECASE | re.DOTALL)
        if not dm:
            return masked
        preds[dm.group(1)] = dm.group(2).strip()
        n_defs += 1
    # duplicate DEFINE entries (dict last-one-wins) would silently
    # discard the first predicate where Trino rejects the query —
    # refuse, same as repeated pattern variables (round-9 review)
    if n_defs != len(preds) or set(preds) != set(names):
        return masked

    interior = "__mr_e.__mr_rn - __mr_s.__mr_rn - 1"
    #: physical-neighbor navigation columns: ("ld"|"lg", col) →
    #: lead/lag window columns added to __mr_nn (no join, same sort)
    nav_used: set[tuple[str, str]] = set()
    #: classifier-aware middle navigation (r9 verdict #6): one
    #: (fn, var, col) → aggregate-column index per distinct position
    mid_navs: dict[tuple[str, str, str], int] = {}
    parsed: list[tuple[str, str, str | None]] = []  # (alias, kind, final)
    nav_in_measure: list[bool] = []
    for item in _split_args(meas):
        im = re.match(r"^(.*)\s+as\s+(\w+)$", item.strip(), re.IGNORECASE | re.DOTALL)
        if not im:
            return masked
        expr, alias = im.group(1).strip(), im.group(2)
        if re.fullmatch(r"count\s*\(\s*\*\s*\)", expr, re.IGNORECASE):
            # rows in the match — consecutive by construction, so it
            # is exactly the rank span (ONE ROW) / the running prefix
            # length (ALL ROWS)
            parsed.append((alias, "count", None))
            nav_in_measure.append(False)
            continue
        if re.fullmatch(r"classifier\s*\(\s*\)", expr, re.IGNORECASE):
            # ONE ROW: the classifier of the last match row is the end
            # symbol, a constant; ALL ROWS: the per-row symbol column
            parsed.append((alias, "classifier", None))
            nav_in_measure.append(False)
            continue
        # navigation (round 9; re-planned round 11): FIRST/LAST/PREV/
        # NEXT over a single var.col — middles are contiguous between
        # start and end, so FIRST(B.x)/LAST(B.x) are the rows at rank
        # srn+1 / ern-1 (NULL when the match has no interior rows),
        # and PREV/NEXT of the start/end var navigate PHYSICAL
        # neighbors (srn-1 / ern+1; NULL off the partition edge),
        # exactly Trino's FINAL semantics for single-occurrence
        # variables.  Every physical-neighbor position IS lag/lead
        # over the (partition, rn) ordering __mr_nn already carries —
        # one window column each, reusing the existing sort, instead
        # of the former one-equi-left-join-per-position plan (round-11
        # perf audit: 4 joins put row_pattern_funnel_nav at 1.06s
        # sequential; the lag/lead plan removes all of them).
        nav_bad = False

        def _nav(mm: re.Match) -> str:
            nonlocal nav_bad
            fn, var, col = mm.group(1).lower(), mm.group(2), mm.group(3)
            if var == va:
                if fn in ("first", "last"):
                    return f"__mr_s.{col}"
                if fn == "prev":
                    nav_used.add(("lg", col))
                    return f"__mr_s.__mr_lg_{col}"
                nav_used.add(("ld", col))  # next(A.x): row after start
                return f"__mr_s.__mr_ld_{col}"
            if var == vc:
                if fn in ("first", "last"):
                    return f"__mr_e.{col}"
                if fn == "next":
                    nav_used.add(("ld", col))
                    return f"__mr_e.__mr_ld_{col}"
                nav_used.add(("lg", col))  # prev(C.x): row before end
                return f"__mr_e.__mr_lg_{col}"
            if var in middles and fn in ("first", "last"):
                if len(middles) == 1:
                    # single middle var: middles are contiguous, so
                    # FIRST is the start row's lead, LAST the end
                    # row's lag, gated on a non-empty interior
                    if fn == "first":
                        nav_used.add(("ld", col))
                        ref = f"__mr_s.__mr_ld_{col}"
                    else:
                        nav_used.add(("lg", col))
                        ref = f"__mr_e.__mr_lg_{col}"
                    return f"(case when {interior} >= 1 then {ref} end)"
                # alternation (B|C)*: the row at srn+1 may be mapped
                # to the OTHER middle var, so FIRST(B.x) is not a
                # fixed offset — navigate the CLASSIFIER-tagged span
                # instead (r9 verdict #6): every interior row already
                # carries its matched variable in __mr_sym, so
                # min_by/max_by(x, rn) FILTER (where sym = 'B') over
                # the match's interior rows IS Trino's FINAL
                # FIRST/LAST(B.x) — NULL when B never occurs in the
                # match (empty filter), and the first B row's x even
                # when that x is NULL (min_by keeps NULL values,
                # execution-verified)
                idx = mid_navs.setdefault((fn, var, col), len(mid_navs))
                return f"__mr_mid.__mr_g{idx}"
            # prev/next of a middle var navigates from an ambiguous
            # occurrence — refuse
            nav_bad = True
            return mm.group(0)

        expr2 = _MR_NAV.sub(_nav, expr)
        if nav_bad:
            return masked
        had_nav = expr2 != expr
        if _MR_FORBIDDEN.search(expr2) or any(
            re.search(rf"\b{mv}\s*\.", expr2, re.IGNORECASE) for mv in middles
        ):
            return masked
        has_c = bool(re.search(rf"\b{vc}\s*\.", expr2, re.IGNORECASE))
        has_a = bool(re.search(rf"\b{va}\s*\.", expr2, re.IGNORECASE))
        fexpr = re.sub(rf"\b{va}\s*\.", "__mr_s.", expr2, flags=re.IGNORECASE)
        fexpr = re.sub(rf"\b{vc}\s*\.", "__mr_e.", fexpr, flags=re.IGNORECASE)
        if had_nav:
            kind = "nav"
        else:
            kind = "c" if has_c else ("a" if has_a else "other")
        parsed.append((alias, kind, fexpr))
        nav_in_measure.append(had_nav)
    if not parsed or _MR_FORBIDDEN.search(defs):
        return masked
    if all_rows:
        # RUNNING semantics per row: A-measures are constants (A is
        # matched from row 1), C-measures are NULL until the final row
        # — equivalent to gating the FINAL value to the end row ONLY
        # for NULL-STRICT expressions, so refuse NULL-tolerant
        # constructs (coalesce(C.x, 0) RUNNING would be 0, not NULL)
        # and var-free measures (universal-variable semantics not
        # modeled).
        if any(nav_in_measure):
            # RUNNING navigation (FIRST/LAST evolving as rows arrive)
            # is not modeled — refuse in ALL ROWS mode
            return masked
        for _alias, kind, fexpr in parsed:
            if kind == "other":
                return masked
            if kind == "c" and (
                re.search(
                    r"\b(coalesce|ifnull|nvl2?|if|isnull|isnotnull"
                    r"|greatest|least)\s*\(",
                    fexpr,
                    re.IGNORECASE,
                )
                # NULL-tolerant syntax forms: CASE, IS [NOT] NULL, and
                # IS [NOT] DISTINCT FROM (all yield non-NULL over NULL
                # inputs, so the end-row NULL gate would diverge from
                # Trino RUNNING semantics — ADVICE r9)
                or re.search(
                    r"\bcase\b|\bis\s+(not\s+)?(null|distinct\s+from)\b",
                    fexpr,
                    re.IGNORECASE,
                )
            ):
                return masked
    measures = []
    for alias, kind, fexpr in parsed:
        if kind == "count":
            measures.append(
                f"cast(__mr_e.__mr_rn - __mr_s.__mr_rn + 1 as bigint) as {alias}"
            )
        elif kind == "classifier":
            measures.append(f"'{vc}' as {alias}")
        else:
            measures.append(f"{fexpr} as {alias}")
    skip_guard_absent = None
    if skip_guard:
        # Trino's SKIP TO var errors when a match contains no row
        # mapped to the variable: an empty interior (single middle,
        # 0 lower bound) or an interior mapped entirely to the OTHER
        # alternation variables.  The guard joins the WHERE clause
        # below as ONE atomic CASE — a measure-borne guard would be
        # PRUNED by Catalyst when the outer query projects other
        # columns (round-11 second review, verified live), and a bare
        # extra conjunct could be REORDERED ahead of the match
        # predicates and raise on non-matches.
        if skip_alt:
            idx = mid_navs.setdefault(
                ("first", skip_var, "__mr_rn"), len(mid_navs)
            )
            skip_guard_absent = f"__mr_mid.__mr_g{idx} is null"
        else:
            skip_guard_absent = "__mr_e.__mr_rn - __mr_s.__mr_rn - 1 = 0"

    pcols = [c.strip() for c in _split_args(part)]
    # PARTITION BY entries must be bare column identifiers: the rewrite
    # re-emits each as `__mr_s.<c> as <c>` and a join key, which is
    # invalid SQL for an expression key like date_trunc('day', ts).
    # Refuse (leave MATCH_RECOGNIZE untouched → loud Spark parse fail)
    # rather than emit confusingly-broken generated text.
    if any(not re.fullmatch(r"\w+", c) for c in pcols):
        return masked
    out_part = ", ".join(f"__mr_s.{c} as {c}" for c in pcols)
    # null-safe equality: window functions put NULL partition keys in
    # ONE partition (Trino and Spark agree), so the start/end join
    # must not drop those matches — plain = would (round-8 review)
    join_part = " and ".join(f"__mr_s.{c} <=> __mr_e.{c}" for c in pcols)
    # symbol = the pattern variable's own name; '.' sentinel can't
    # collide (variables are \w+)
    sym_case = _mr_sym_case(preds, [va, *middles, vc], lits)
    if middles:
        mid_set = ", ".join(f"'{mv}'" for mv in middles)
        not_middle = f"__mr_sym not in ({mid_set})"
    else:
        # no middle variable (pattern A C): the first non-middle row IS
        # the next row, so the machinery matches adjacency unchanged
        not_middle = "true"
    # interior rows (all middle-symbol by construction) = rank span - 1;
    # the quantifier bounds that count: B* >=0, B+ >=1, B{m[,n]} exact/
    # range.  A middle run longer than `hi` cannot match a SHORTER
    # prefix either — the row after `hi` middles would still carry a
    # middle symbol, never the end symbol — so the next-non-middle row
    # remains the ONLY candidate end and the bound is a pure predicate.
    interior = "__mr_e.__mr_rn - __mr_s.__mr_rn - 1"
    bound = ""
    if lo > 0:
        bound += f" and {interior} >= {lo}"
    if hi is not None and middles:
        bound += f" and {interior} <= {hi}"
    # lead/lag navigation columns share the (partition, rn) sort the
    # nnrn window establishes — extra expressions, no extra Exchange
    nav_cols = "".join(
        f", {'lead' if d == 'ld' else 'lag'}({col})"
        f" over (partition by {part} order by __mr_rn) as __mr_{d}_{col}"
        for d, col in sorted(nav_used)
    )
    ctes = (
        "with __mr_syms as ("
        f" select *, {sym_case} as __mr_sym,"
        f" row_number() over (partition by {part} order by {order}) as __mr_rn"
        f" from {base}"
        "), __mr_nn as ("
        f" select *, min(case when {not_middle} then __mr_rn end)"
        f" over (partition by {part} order by __mr_rn"
        " rows between 1 following and unbounded following) as __mr_nnrn"
        f"{nav_cols}"
        " from __mr_syms)"
    )
    if mid_navs:
        # classifier-aware span aggregates: every interior (middle-
        # symbol) row's span anchor is the rank of the PREVIOUS non-
        # middle row (__mr_prn — for rows inside a match [srn, ern],
        # exactly srn, since the interior is all middles).  Grouping
        # interior rows by (partition, anchor) gives one row per
        # candidate span; min_by/max_by FILTER picks the first/last
        # row mapped to each navigated variable.  Spans that are not
        # accepted matches simply never join.  Shares the __mr_syms
        # scan and the same (partition, rank) sort — one extra
        # aggregate, no second shuffle of the base table.
        aggs = ", ".join(
            f"{'min_by' if fn == 'first' else 'max_by'}({col}, __mr_rn)"
            f" filter (where __mr_sym = '{var}') as __mr_g{i}"
            for (fn, var, col), i in sorted(
                mid_navs.items(), key=lambda kv: kv[1]
            )
        )
        ctes += (
            ", __mr_prev as ("
            f" select *, max(case when {not_middle} then __mr_rn end)"
            f" over (partition by {part} order by __mr_rn"
            " rows between unbounded preceding and 1 preceding)"
            " as __mr_prn"
            " from __mr_syms"
            "), __mr_mid as ("
            f" select {part}, __mr_prn, {aggs}"
            " from __mr_prev"
            f" where __mr_sym in ({mid_set}) and __mr_prn is not null"
            f" group by {part}, __mr_prn)"
        )
    match_cond = f"__mr_s.__mr_sym = '{va}' and __mr_e.__mr_sym = '{vc}'" + bound
    match_where = " where " + match_cond
    if skip_guard_absent is not None:
        msg = _inject_lit(
            lits,
            f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO {skip_var} failed — "
            "a match contains no row mapped to the variable; Trino "
            "raises here too",
        )
        # the full match condition is REPEATED inside the CASE so the
        # raise can only ever fire on an accepted match, no matter how
        # Catalyst orders the surrounding conjuncts
        match_where += (
            f" and (case when {match_cond} and {skip_guard_absent} "
            f"then raise_error({msg}) else true end)"
        )
    if not all_rows:
        # physical-neighbor navigation is lead/lag columns inside
        # __mr_nn (see nav_cols above) — only the classifier-aware
        # alternation-middle aggregate still joins
        nav_joins = ""
        if mid_navs:
            peq = " and ".join(
                f"__mr_mid.{c} <=> __mr_s.{c}" for c in pcols
            )
            nav_joins = (
                " left join __mr_mid on "
                f"{peq}"
                " and __mr_mid.__mr_prn = __mr_s.__mr_rn"
            )
        repl = (
            "(" + ctes
            + f" select {out_part}, {', '.join(measures)}"
            " from __mr_nn __mr_s join __mr_nn __mr_e"
            f" on {join_part} and __mr_e.__mr_rn = __mr_s.__mr_nnrn"
            + nav_joins
            + match_where
            + ")"
        )
        return masked[: m.start()] + "from " + repl + masked[cp + 1 :]
    # ALL ROWS PER MATCH: materialize the match table (renamed
    # partition keys so base column names stay unambiguous), then join
    # every base row whose rank falls inside a match span.  The join is
    # equi on the partition keys with the rank-range as a join filter —
    # matches are non-overlapping, so each row lands in at most one.
    # Per-row measures: A-measures are the match constants, C-measures
    # gate the final value to the end row, count(*) is the running
    # prefix length.  The __mr_sym/__mr_rn/__mr_nnrn helper columns
    # are stripped from the row star via `* except (...)` (ADVICE r9:
    # a user's outer `select *` must see Trino's schema — base columns
    # + measures — not the translator's plumbing).
    m_part = ", ".join(f"__mr_s.{c} as __mr_p_{c}" for c in pcols)
    finals = ", ".join(
        f"{fexpr} as __mr_f{i}"
        for i, (_a, kind, fexpr) in enumerate(parsed)
        if kind not in ("count", "classifier")
    )
    row_meas = []
    for i, (alias, kind, _f) in enumerate(parsed):
        if kind == "count":
            row_meas.append(
                "cast(__mr_r.__mr_rn - __mr_m.__mr_srn + 1 as bigint)"
                f" as {alias}"
            )
        elif kind == "classifier":
            # ALL ROWS: the per-row matched symbol
            row_meas.append(f"__mr_r.__mr_sym as {alias}")
        elif kind == "a":
            row_meas.append(f"__mr_m.__mr_f{i} as {alias}")
        else:  # "c": NULL until the end row (RUNNING semantics)
            row_meas.append(
                "case when __mr_r.__mr_rn = __mr_m.__mr_ern"
                f" then __mr_m.__mr_f{i} end as {alias}"
            )
    row_join = " and ".join(f"__mr_r.{c} <=> __mr_m.__mr_p_{c}" for c in pcols)
    repl = (
        "(" + ctes
        + ", __mr_m as ("
        f" select {m_part}, __mr_s.__mr_rn as __mr_srn,"
        " __mr_e.__mr_rn as __mr_ern"
        + (", " + finals if finals else "")
        + " from __mr_nn __mr_s join __mr_nn __mr_e"
        f" on {join_part} and __mr_e.__mr_rn = __mr_s.__mr_nnrn"
        + match_where
        + ")"
        " select __mr_r.* except (__mr_sym, __mr_rn, __mr_nnrn), "
        f"{', '.join(row_meas)}"
        " from __mr_nn __mr_r join __mr_m"
        f" on {row_join}"
        " and __mr_r.__mr_rn between __mr_m.__mr_srn and __mr_m.__mr_ern"
        ")"
    )
    return masked[: m.start()] + "from " + repl + masked[cp + 1 :]


def _depths(expr: str) -> list[int]:
    """Paren/bracket nesting depth per char (delimiters count at the
    OUTER level, contents one deeper)."""
    out = [0] * len(expr)
    d = 0
    for i, c in enumerate(expr):
        if c in "([":
            out[i] = d
            d += 1
        elif c in ")]":
            d -= 1
            out[i] = d
        else:
            out[i] = d
    return out


def _rewrite_mr_permute(
    masked: str,
    m: re.Match,
    cp: int,
    base: str,
    part: str,
    order: str,
    meas: str,
    patt: str,
    defs: str,
    all_rows: bool,
    skip_next: bool,
    skip_past: bool,
    lits: list[str],
) -> str:
    """PATTERN (PERMUTE(V1, ..., Vk)) under AFTER MATCH SKIP TO NEXT
    ROW, ONE ROW PER MATCH (see the caller's branch comment for the
    soundness argument).  An otherwise-conforming permute under SKIP
    PAST LAST ROW (incl. the Trino default when AFTER MATCH is
    omitted) raises the documented refusal naming the engine operator
    instead of dying as a parse error — greedy non-overlap selection
    is a sequential chain no window formulation can express
    (counterexample-pinned in tests/test_property_match_recognize.py).  Every measure reference V.col becomes a CASE
    over the k window offsets ("whichever of the k rows carries V's
    symbol"); count(*) is the constant k; classifier() is the last
    row's symbol.  Trino's permutation-PREFERENCE order is irrelevant
    here: mutually-exclusive defines force the mapping, so all
    permutations describe the same row set.  Partition edges need no
    special casing — lead() returns NULL past them, which fails the
    symbol-set check.  Anything non-conforming (ALL ROWS, other skip
    modes, quantified/nested PERMUTE entries, navigation, var-free or
    foreign-prefix measures) stays untouched → loud."""
    pp = re.fullmatch(
        r"\(\s*permute\s*\(\s*(\w+(?:\s*,\s*\w+)+)\s*\)\s*\)",
        patt,
        re.IGNORECASE,
    )
    if not pp or all_rows or not (skip_next or skip_past):
        return masked
    vs = [v.strip() for v in pp.group(1).split(",")]
    k = len(vs)
    if len(set(vs)) != len(vs) or k > 5:
        return masked
    if not skip_next:
        raise ValueError(
            "dialect: PATTERN (PERMUTE(...)) under AFTER MATCH SKIP "
            "PAST LAST ROW (the default) is refused — permute matches "
            "can overlap, so the greedy non-overlap selection is a "
            "sequential per-partition chain no window formulation "
            "expresses (counterexample-pinned in tests/"
            "test_property_match_recognize.py).  Use AFTER MATCH SKIP "
            "TO NEXT ROW for the every-anchor semantics, or the engine "
            "operator sparketl.operators.analytics.permute_greedy_"
            "select (candidate anchors by the same window check, then "
            "a per-partition greedy kernel — the row_pattern_permute_"
            "pastlast declared query is the worked example)."
        )
    preds: dict[str, str] = {}
    n_defs = 0
    for d in _split_args(defs):
        dm = re.match(r"^(\w+)\s+as\s+(.*)$", d.strip(), re.IGNORECASE | re.DOTALL)
        if not dm:
            return masked
        preds[dm.group(1)] = dm.group(2).strip()
        n_defs += 1
    if n_defs != len(preds) or set(preds) != set(vs):
        return masked
    if _MR_FORBIDDEN.search(defs):
        return masked  # navigation/classifier inside DEFINE
    pcols = [c.strip() for c in _split_args(part)]
    if any(not re.fullmatch(r"\w+", c) for c in pcols):
        return masked

    cols_used: set[str] = set()
    measures: list[str] = []
    for item in _split_args(meas):
        im = re.match(r"^(.*)\s+as\s+(\w+)$", item.strip(), re.IGNORECASE | re.DOTALL)
        if not im:
            return masked
        expr, alias = im.group(1).strip(), im.group(2)
        if re.fullmatch(r"count\s*\(\s*\*\s*\)", expr, re.IGNORECASE):
            measures.append(f"cast({k} as bigint) as {alias}")
            continue
        if re.fullmatch(r"classifier\s*\(\s*\)", expr, re.IGNORECASE):
            measures.append(f"__mr_s{k - 1} as {alias}")
            continue
        if _MR_FORBIDDEN.search(expr):
            return masked
        refs = re.findall(r"\b(\w+)\s*\.\s*\w+", expr)
        if not refs or any(r not in vs for r in refs):
            return masked  # var-free or foreign-prefix measure
        fexpr = expr
        for v in vs:
            def _sub(mm: re.Match, _v=v) -> str:
                col = mm.group(1)
                cols_used.add(col)
                branches = " ".join(
                    f"when __mr_s{i} = '{_v}' then __mr_c{i}_{col}"
                    for i in range(k)
                )
                return f"(case {branches} end)"

            fexpr = re.sub(rf"\b{v}\s*\.\s*(\w+)", _sub, fexpr)
        measures.append(f"{fexpr} as {alias}")
    if not measures:
        return masked

    sym_case = _mr_sym_case(preds, vs, lits)
    w = f"over (partition by {part} order by {order})"
    lead_cols = ["__mr_sym as __mr_s0"] + [
        f"lead(__mr_sym, {i}) {w} as __mr_s{i}" for i in range(1, k)
    ]
    for col in sorted(cols_used):
        lead_cols.append(f"{col} as __mr_c0_{col}")
        lead_cols.extend(
            f"lead({col}, {i}) {w} as __mr_c{i}_{col}" for i in range(1, k)
        )
    in_set = ", ".join(f"'{v}'" for v in vs)
    checks = [f"__mr_s{i} in ({in_set})" for i in range(k)]
    checks += [
        f"__mr_s{i} <> __mr_s{j}"
        for i in range(k)
        for j in range(i + 1, k)
    ]
    repl = (
        "(with __mr_syms as ("
        f" select *, {sym_case} as __mr_sym from {base}"
        "), __mr_w as ("
        f" select *, {', '.join(lead_cols)} from __mr_syms)"
        f" select {', '.join(pcols)}, {', '.join(measures)}"
        " from __mr_w"
        f" where {' and '.join(checks)}"
        ")"
    )
    return masked[: m.start()] + "from " + repl + masked[cp + 1 :]


def _mr_sym_case(preds: dict[str, str], order: list[str], lits: list[str]) -> str:
    """The __mr_sym classifier CASE: first satisfied DEFINE wins, '.'
    sentinel otherwise (variables are \\w+, so '.' cannot collide).

    The windowed rewrites assume MUTUALLY-EXCLUSIVE defines: a row
    satisfying two predicates would silently pin to the first branch
    where Trino's engine could map it to either variable (PERMUTE's
    forced-mapping argument rests entirely on exclusivity).  So a
    leading branch raises when a row satisfies >1 define (NULL
    predicates count as unsatisfied — the 1/0 CASE sum is null-safe
    where a cast sum would go NULL).  The guard lives inside the
    __mr_sym CASE itself — a column every downstream step reads — so
    Catalyst cannot projection-prune it.  The message goes through
    _inject_lit — a raw quoted literal in masked text would break
    every later quote-blind scanner."""
    tally = " + ".join(
        f"(case when ({preds[v]}) then 1 else 0 end)" for v in order
    )
    msg = _inject_lit(
        lits,
        "row pattern: a row satisfies more than one DEFINE — "
        "the windowed rewrite requires mutually-exclusive defines",
    )
    body = "".join(f" when ({preds[v]}) then '{v}'" for v in order)
    return f"case when ({tally}) > 1 then raise_error({msg}){body} else '.' end"


def _shape(n: int, fmt: str):
    """The rule of an ``n``-argument call whose Spark text is ``fmt``
    with the arguments as {0}, {1}, ...; other arities stay untouched."""
    return lambda a, lits: fmt.format(*a) if len(a) == n else None


def _refused(name: str, why: str):
    def refuse(_a, _lits):
        raise ValueError(f"dialect: {name}() is refused — {why}")

    return refuse


def _from_unixtime(a: list[str], lits: list[str]) -> str | None:
    """Presto from_unixtime is ARITY-overloaded (r10): 1-arg →
    timestamp; (unixtime, zone) → instant rendered at the zone (the
    same from_utc_timestamp treatment as AT TIME ZONE under the UTC
    session); (unixtime, hours, minutes) fixed offset → folded to a
    GMT±hh:mm zone when the offsets are int literals, documented
    refusal otherwise (a runtime offset needs interval arithmetic the
    caller should write explicitly)."""
    if len(a) == 1:
        return f"timestamp_seconds({a[0]})"
    if len(a) == 2:
        return f"from_utc_timestamp(timestamp_seconds({a[0]}), {a[1]})"
    if len(a) != 3:
        return None
    hm = [re.fullmatch(r"([+-]?\d+)", x.strip()) for x in a[1:]]
    if not all(hm):
        raise ValueError(
            "dialect: from_unixtime(unixtime, hours, minutes) "
            "translates only for integer-literal offsets — add "
            "the offset with interval arithmetic for runtime "
            "values"
        )
    # Presto's offset is hours*60 + minutes TOTAL minutes (review r10:
    # sign/abs per component renders (5, -30) as +05:30 where Presto
    # means +04:30, and (0, 90) as the invalid GMT+00:90)
    total = int(hm[0].group(1)) * 60 + int(hm[1].group(1))
    sign = "-" if total < 0 else "+"
    hh, mm = divmod(abs(total), 60)
    return (
        f"from_utc_timestamp(timestamp_seconds({a[0]}), "
        f"'GMT{sign}{hh:02d}:{mm:02d}')"
    )


#: The call rules, keyed by the lower-cased Presto function name (the
#: module docstring's inventory).  A rule is a Spark name (a rename that
#: keeps the argument text as written) or ``rule(args, lits) -> Spark
#: text | None`` (None leaves the call untouched; ``lits`` is the
#: literal pool for ``_lit_value``/``_inject_lit``).  ``_scan`` applies
#: them inside out: a rule sees its arguments already translated, and
#: its output is final.  An aggregate whose Spark form wraps a bare
#: aggregate returns ``(agg, wrap)`` so a window clause can move onto
#: ``agg``; any other rewritten call followed by OVER refuses.
_CALLS: dict[str, "str | Callable"] = {
    # A user's sign(): Presto's keeps its argument's type (sign(bigint)
    # is bigint), Spark's is always DOUBLE — marked for typing.
    "sign": _shape(1, "__sparketl_sign({0})"),
    # Presto has no interleaved k1, v1, ... form: two arguments are the
    # array-pair constructor (zero-arg map() is already valid Spark)
    "map": _shape(2, "map_from_arrays({0}, {1})"),
    "date_diff": _unit_fn("timestampdiff"),
    "date_add": _unit_fn("timestampadd"),
    "split": _split_fn,
    "day_of_week": _shape(1, "(weekday({0}) + 1)"),
    "dow": _shape(1, "(weekday({0}) + 1)"),
    "extract": _extract_fn,
    "to_unixtime": _shape(1, "(cast(unix_micros({0}) as double) / 1000000.0)"),
    "from_unixtime": _from_unixtime,
    # reduce_agg(x, s0, input, combine) → the bounded sorted fold (round
    # 11; rationale and memory bound at operators.aggregates.reduce_agg):
    # Presto requires input/combine to be commutative-associative, so a
    # sequential fold IS the reference semantics and combine is never
    # needed; array_sort pins one fold order (Presto's is unspecified).
    # collect_list materializes the group on one executor — this text
    # form has no size guard, the operators helper adds one.
    "reduce_agg": _shape(4, "aggregate(array_sort(collect_list({0})), {1}, {2})"),
    # Presto/Trino skewness & kurtosis are the SAMPLE-corrected
    # estimators while Spark's same-named aggregates are POPULATION
    # moments (round 11 — formulas per Trino's docs, execution-pinned
    # against DuckDB):
    #   G1 = skewness_pop(x) * sqrt(n(n-1)) / (n-2)
    #   G2 = ((n+1)*kurtosis_pop(x) + 6) * (n-1) / ((n-2)(n-3))
    # x is inlined several times (the ngrams/random volatile-argument
    # caveat).  Presto and DuckDB return NULL below n=3 / n=4, where the
    # bare formula would divide by zero (Infinity under ANSI, silent).
    "skewness": _shape(
        1,
        "(case when count({0}) >= 3 then skewness({0}) * sqrt(count({0}) * "
        "(count({0}) - 1)) / (count({0}) - 2) end)",
    ),
    "kurtosis": _shape(
        1,
        "(case when count({0}) >= 4 then ((count({0}) + 1) * kurtosis({0}) "
        "+ 6) * (count({0}) - 1) / ((count({0}) - 2) * (count({0}) - 3)) end)",
    ),
    # hamming_distance(s1, s2): differing positions of two EQUAL-LENGTH
    # strings (an error otherwise, kept loud with raise_error), as a
    # zip_with over the character splits; inputs are inlined twice.
    # Java strings are UTF-16: an astral code point counts twice.
    "hamming_distance": lambda a, lits: (
        f"(case when length({a[0]}) <> length({a[1]}) then raise_error("
        f"{_inject_lit(lits, 'hamming_distance: the input strings must have the same length')}"
        f") else aggregate(zip_with("
        f"split({a[0]}, {_inject_lit(lits, '')}), "
        f"split({a[1]}, {_inject_lit(lits, '')}), "
        f"(__hd_x, __hd_y) -> if(__hd_x = __hd_y, 0, 1)), "
        f"cast(0 as bigint), (__hd_s, __hd_v) -> __hd_s + __hd_v) end)"
    ) if len(a) == 2 else None,
    # scalars with NO sound Spark composition: the documented refusal
    # instead of Spark's unresolved-function error
    "word_stem": _refused(
        "word_stem", "Spark SQL has no Porter/Snowball stemmer; stem "
        "driver-side or with a pandas UDF"
    ),
    "normalize": _refused(
        "normalize", "Spark SQL has no NFC/NFD/NFKC/NFKD Unicode "
        "normalizer; normalize driver-side or with a pandas UDF"
    ),
    "cosine_similarity": _refused(
        "cosine_similarity", "Presto's cosine_similarity takes sparse MAP "
        "vectors, which Spark SQL cannot fold without per-row Python; use "
        "the engine's similarity operators (sparketl.operators.llm_ann) "
        "for dense embeddings"
    ),
    "bitwise_and": _shape(2, "({0} & {1})"),
    "bitwise_or": _shape(2, "({0} | {1})"),
    "bitwise_xor": _shape(2, "({0} ^ {1})"),
    # Presto/ANSI two-arg ltrim/rtrim(string, chars); Spark's two-arg
    # form takes (trimStr, string), i.e. REVERSED (ltrim('xxabc','x') is
    # '' on Spark) — so the unambiguous TRIM(LEADING/TRAILING ... FROM)
    "ltrim": _shape(2, "trim(leading {1} from {0})"),
    "rtrim": _shape(2, "trim(trailing {1} from {0})"),
    # URL accessors → parse_url parts; url_extract_port has NO part
    # keyword (Hive folds the port into AUTHORITY): untouched, loud
    "url_extract_host": _shape(1, "parse_url({0}, 'HOST')"),
    "url_extract_path": _shape(1, "parse_url({0}, 'PATH')"),
    "url_extract_protocol": _shape(1, "parse_url({0}, 'PROTOCOL')"),
    "url_extract_query": _shape(1, "parse_url({0}, 'QUERY')"),
    "url_extract_fragment": _shape(1, "parse_url({0}, 'REF')"),
    "url_extract_parameter": _shape(2, "parse_url({0}, 'QUERY', {1})"),
    # ngrams(a, n): sliding windows from sequence + slice (n > |a|
    # yields [a], the greatest(..., 1) floor).  The obscure lambda
    # variable cannot shadow an enclosing user lambda's.
    "ngrams": _shape(
        2,
        "transform(sequence(1, greatest(size({0}) - ({1}) + 1, 1)), "
        "__ng_i -> slice({0}, __ng_i, {1}))",
    ),
    # array_histogram(a): distinct non-null keys, each counted by a
    # filter scan (a inlined twice)
    "array_histogram": _shape(
        1,
        "map_from_entries(transform("
        "array_distinct(filter({0}, __ah_x -> __ah_x is not null)), "
        "__ah_x -> struct(__ah_x, cast(size(filter({0}, "
        "__ah_y -> __ah_y = __ah_x)) as bigint))))",
    ),
    "any_match": _shape(2, "exists({0}, {1})"),
    "all_match": _shape(2, "forall({0}, {1})"),
    "none_match": _shape(2, "(not exists({0}, {1}))"),
    # map_agg: entry order is unspecified on both engines; duplicate and
    # NULL keys raise on Spark where Presto keeps one / skips — loud
    "map_agg": _shape(2, "map_from_entries(collect_list(struct({0}, {1})))"),
    # approx_top_k and Presto's are both Space-Saving summaries: heavy
    # hitter membership is the portable contract, counts are estimates
    "approx_most_frequent": _shape(
        3,
        "map_from_entries(transform(approx_top_k({1}, {0}, {2}), "
        "__amf -> struct(__amf.item, __amf.count)))",
    ),
    # Presto sign-extends to the stated width, so the cast is required
    # (bit_count of an INT -1 counts 32 bits); other widths: untouched
    "bit_count": lambda a, lits: (
        f"bit_count(cast({a[0]} as bigint))"
        if len(a) == 2 and a[1].strip() == "64" else None
    ),
    # Presto's right shift is LOGICAL (zero-fill); shiftright would
    # sign-extend.  For shifts >= the operand width Presto returns 0 and
    # the JVM wraps the amount — a residue that needs the operand type.
    "bitwise_left_shift": _shape(2, "shiftleft({0}, {1})"),
    "bitwise_right_shift": _shape(2, "shiftrightunsigned({0}, {1})"),
    # with_timezone(ts, z) declares the naive ts to BE zone-z wall clock
    # (the instant moves): rendered in the UTC session, to_utc_timestamp
    "with_timezone": _shape(2, "to_utc_timestamp({0}, {1})"),
    # Spark's ANSI cast parses the ISO 8601 surface Presto accepts
    # (offsets normalize to the UTC session — the same instant)
    "from_iso8601_timestamp": _shape(1, "cast({0} as timestamp)"),
    "from_iso8601_date": _shape(1, "cast({0} as date)"),
    "parse_duration": _parse_duration,
    "date_format": _date_format,
    "date_parse": _date_parse,
    # to_iso8601 is TYPE-dependent in Presto (date → 'yyyy-MM-dd',
    # timestamp → millis precision): branched on typeof() at runtime,
    # both branches valid for either type
    "to_iso8601": lambda a, lits: (
        f"(case when typeof({a[0]}) = {_inject_lit(lits, 'date')} "
        f"then date_format({a[0]}, {_inject_lit(lits, 'yyyy-MM-dd')}) "
        f"else date_format({a[0]}, {_inject_lit(lits, _ISO_TS_PATTERN)}) "
        f"end)"
    ) if len(a) == 1 else None,
    # conv() in SIGNED mode (negative base): unsigned reads '-101' as a
    # 64-bit two's complement; Presto's digits are lowercase and
    # from_base returns BIGINT
    "to_base": _shape(2, "lower(conv({0}, 10, -({1})))"),
    "from_base": _shape(2, "cast(conv({0}, {1}, -10) as bigint)"),
    "array_agg": _array_agg_parts,
    "min_by": _minmax_by_n_parts("min"),
    "max_by": _minmax_by_n_parts("max"),
    "random": _random_fn,
    "truncate": _shape(1, "(sign({0}) * floor(abs({0})))"),
    "infinity": lambda a, lits: (
        None if a else f"cast({_inject_lit(lits, 'Infinity')} as double)"
    ),
    "nan": lambda a, lits: (
        None if a else f"cast({_inject_lit(lits, 'NaN')} as double)"
    ),
    "strpos": "instr",
    "starts_with": "startswith",
    "levenshtein_distance": "levenshtein",
    "format": "format_string",
    # the Java-pattern path: Spark's date_format as written, never
    # judged as a MySQL pattern
    "format_datetime": "date_format",
    "parse_datetime": "to_timestamp",
    "json_extract_scalar": "get_json_object",
    "json_extract": "get_json_object",
    "json_format": "to_json",
    "contains": "array_contains",
    "element_at": "try_element_at",
    "zip": "arrays_zip",
    "arbitrary": "any_value",
    "approx_distinct": "approx_count_distinct",
    "is_nan": "isnan",
    "day_of_month": "dayofmonth",
    "day_of_year": "dayofyear",
    "doy": "dayofyear",
    "week_of_year": "weekofyear",
    "week": "weekofyear",
    "set_agg": "collect_set",
    # Presto codepoint(c) requires EXACTLY one char; Spark ascii(s)
    # takes the FIRST char of any string — a superset
    "codepoint": "ascii",
    "last_day_of_month": "last_day",
    # both take a Java regex (unlike Presto's literal-delimiter split)
    "regexp_split": "split",
    "try": _try_fn,
}

#: a backticked identifier (copied as written), a call's name and its
#: '(', or a bare parenthesis
_SCAN_RE = re.compile(r"`[^`]*`|\b(\w+)\s*\(|[()]")
#: what may follow an aggregate call: [IGNORE|RESPECT NULLS] then
#: OVER (...), FILTER (...) or OVER <window name>
_POSTFIX_RE = re.compile(
    r"\s*((?:ignore|respect)\s+nulls\s+)?"
    r"(?:(over|filter)\s*\(|over\s+([A-Za-z_]\w*)\b)",
    re.IGNORECASE,
)


def _scan(
    masked: str, lits: list[str], pos: int = 0, nested: bool = False
) -> tuple[str, int]:
    """Apply ``_CALLS`` to ``masked[pos:]`` in one left-to-right pass,
    inside out: each call's argument text is scanned first, then its
    rule runs on the split arguments, and the rule's output is never
    scanned again.  A ``nested`` scan stops at the ')' that closes it.
    Returns (rewritten text, index where the scan stopped).

    An ``(agg, wrap)`` result becomes ``wrap(agg)``; a window clause
    after the call moves onto ``agg`` — exactly the windowed semantics
    (the frame feeds collect_list, the sort/slice/project runs per
    output row) — and FILTER or IGNORE/RESPECT NULLS there refuse
    (Spark supports neither on the collect_list).  Any other rewritten
    call followed by OVER refuses: ``(<compound>) over (...)`` is not
    Spark SQL."""
    out = []
    while m := _SCAN_RE.search(masked, pos):
        out.append(masked[pos : m.start()])
        pos, tok, name = m.end(), m.group(0), m.group(1)
        if tok == ")" and nested:
            return "".join(out), m.start()
        if tok[0] in "`)":
            out.append(tok)
            continue
        inner, cp = _scan(masked, lits, pos, True)
        pos = cp + 1
        rule = _CALLS.get(name.lower()) if name else None
        if isinstance(rule, str):
            out.append(f"{rule}({inner})")
            continue
        repl = rule(_split_args(inner), lits) if rule else None
        if repl is None:
            out.append(f"{tok}{inner})")
            continue
        post = _POSTFIX_RE.match(masked, pos)
        kind = post and (post.group(2) or "over").lower()
        if isinstance(repl, tuple):
            agg, wrap = repl
            if kind == "over" and post.group(1):
                raise ValueError(
                    f"dialect: {name}(...) IGNORE/RESPECT NULLS OVER is "
                    "refused — Spark's collect_list-based rewrite has "
                    "no null-skipping mode"
                )
            if kind == "filter":
                raise ValueError(
                    f"dialect: this {name}(...) form with a FILTER clause "
                    "is refused — Spark cannot attach FILTER to the "
                    "collect_list the rewrite builds; filter in a subquery "
                    "first"
                )
            if kind and post.group(3):
                agg, pos = f"{agg} over {post.group(3)}", post.end()
            elif kind:
                spec, cp = _scan(masked, lits, post.end(), True)
                agg, pos = f"{agg} over ({spec})", cp + 1
            repl = wrap(agg)
        elif kind == "over":
            raise ValueError(
                f"dialect: this {name}() form OVER (...) is refused "
                "— its Presto-to-Spark rewrite is a compound "
                "expression that cannot carry a window clause; "
                "pre-aggregate in a subquery or window manually"
            )
        out.append(repl)
    if nested:
        raise ValueError("unbalanced parentheses in SQL")
    out.append(masked[pos:])
    return "".join(out), len(masked)


def _translate(presto_sql: str) -> tuple[str, str, "str | None"]:
    """Presto-dialect SQL → (untyped Spark text, marked text, typing
    probe) — see ``_translation``; the rewrites are the module
    docstring's table: the clause passes below in order, then one
    ``_scan`` of the call rules (``_CALLS``)."""
    masked, lits = _mask(presto_sql)

    # Trino catalog/default-schema table spellings (round 14, VERDICT
    # r13 #2): `sparketl.s.t` → `s.t` (single-catalog engine) and
    # `default.t` → `t` (the flat temp-view namespace IS the default
    # schema — Spark would look for a catalog table default.t).  Both
    # anchored so struct-field access `col.default`/`col.sparketl`
    # never matches (the char before must not be a word char or dot);
    # non-default schema references pass through untouched — they ARE
    # Spark catalog tables.  A query that declares the same word as a
    # BARE identifier anywhere (`from t as sparketl` — any occurrence
    # NOT followed by a dot is a declaration or bare use, since a
    # catalog/schema prefix is always dotted) disables the strip for
    # that word: rewriting `sparketl.x` under such an alias would
    # silently change column resolution (ADVICE r14 #2).
    for _pfx in ("sparketl", "default"):
        if re.search(
            rf"(?<![\w.`]){_pfx}\b(?!\s*\.)", masked, re.IGNORECASE
        ):
            continue
        masked = re.sub(
            rf"(?<![\w.`]){_pfx}\s*\.\s*(?=[A-Za-z_])",
            "",
            masked,
            flags=re.IGNORECASE,
        )

    masked = _rewrite_match_recognize(masked, lits)
    masked = _rewrite_fetch_first(masked)
    # window inheritance expands BEFORE the exclusion rewrite so a
    # named window carrying EXCLUDE is self-contained and inlinable
    masked = _expand_window_inheritance(masked)
    masked = _inline_excluding_windows(masked)
    # SQL:2011 GROUPS frame mode (round 15, VERDICT r14 #2): rewrite
    # into the definitional dense_rank+RANGE composition BEFORE the
    # exclusion pass, so GROUPS ... EXCLUDE GROUP/TIES then composes
    # through the same machinery (the rank-RANGE peer frame IS the
    # peer group).  Unhandleable shapes refuse loudly inside.
    masked = _rewrite_groups_frames(masked, lits)
    masked = _rewrite_frame_exclude(masked)
    masked = _rewrite_tablesample(masked)
    masked = _rewrite_row_constructor(masked)
    masked = _rewrite_unnest(masked)
    masked = _rewrite_array_literals(masked)
    masked = _rewrite_at_time_zone(masked)
    masked = _rewrite_subscripts(masked)
    # Presto's unparameterized VARCHAR: Spark's parser rejects a bare
    # VARCHAR ("requires a length parameter") — map to STRING.
    # Parameterized varchar(n) is valid Spark and passes through.
    masked = re.sub(
        r"\bvarchar\b(?!\s*\()", "string", masked, flags=re.IGNORECASE
    )
    masked = re.sub(r"\bvarbinary\b", "binary", masked, flags=re.IGNORECASE)
    # Trino session accessors (round 14, with the USE/schema support):
    # NILADIC in Trino's grammar — current_schema maps to Spark's
    # current_schema() (the () is required there), current_catalog is
    # the engine's single catalog name as a constant.  Word-bounded and
    # not already parenthesized, so a call form passes through too.
    if re.search(r"\bcurrent_catalog\b", masked, re.IGNORECASE):
        masked = re.sub(
            r"\bcurrent_catalog\b(\s*\(\s*\))?",
            _inject_lit(lits, "sparketl"),
            masked,
            flags=re.IGNORECASE,
        )
    masked = re.sub(
        r"\bcurrent_schema\b(?!\s*\()",
        "current_schema()",
        masked,
        flags=re.IGNORECASE,
    )
    return _translation(_scan(masked, lits)[0], lits)


def translate(presto_sql: str) -> str:
    """Presto-dialect SQL → Spark SQL (see module docstring table),
    without types: every `/` stays Spark's (DOUBLE), sign() stays
    Spark's, TRY(a / b) is ``try_divide(a, b)``, and an EXCLUDE that
    composes only for an integral ``sum(x)`` refuses.  The typed entry
    points (``sql``, EXPLAIN, ``dml``'s views and MERGE fragments)
    decide each of those from Spark's types (see "Typing by probe")."""
    text, marked, probe = _translate(presto_sql)
    for _pos, site in _sites(marked, probe):
        if site != "/" and _STAND_INS[site][1] is None:
            raise ValueError(_isum_refusal(site))
    return text


# ---------------------------------------------------------------------------
# Typing by probe.
#
# Presto's `/` truncates toward zero when both operands are integral
# (bigint/bigint → bigint, 7/2 = 3, -7/2 = -3); Spark's always returns
# DOUBLE.  Three more rewrites turn on a type: a user's sign() (Presto's
# keeps its argument's type, Spark's is DOUBLE), TRY(a / b), and
# EXCLUDE's composed sum(x) (exact only for integral x).  ``translate``
# sees no types: it leaves every `/` as Spark's and puts a marker call
# at each of the other sites.  The typed entry points (``_typed``) let
# Spark's analyzer type them all with one PROBE, a text of the same
# length that Spark analyzes but never runs:
#
#   * every `/` reads `%`: the same length, precedence and associativity
#     (one grammar rule), and `a % b` is integral exactly when both
#     operands are;
#   * every marker name reads as a padded, type-preserving stand-in
#     call (``_STAND_INS``);
#   * a one-argument floor/ceil/ceiling reads as a padded abs: Presto's
#     keep their argument's type, Spark's return BIGINT for a DOUBLE.
#
# The sites are where the probe differs from the text.  Each site is
# CLAIMED by the node Spark typed for it: a stand-in by the call that
# starts at its marker, a `%` by the Remainder whose operator sits at
# it — the parsed probe gives each Remainder's span and where its right
# operand starts (the analyzed plan keeps the spans, but its resolved
# columns carry stray ones).  An integral `/` becomes Spark's ` div `
# (truncates toward zero, BIGINT, DIVIDE_BY_ZERO under ANSI, as
# Presto's); a fractional one stays `/` (DECIMAL scale rules differ
# between the engines, but neither truncates).  Spark evaluates a
# VALUES list while parsing or analyzing it, so its sites are claimed
# by a second probe that reads the list as a SELECT of its rows, at
# the same positions; an ORDER BY or HAVING term Spark replaced by a
# reference to an equal selected one takes the claims of its twin, the
# site whose parsed expression reads the same.  A site that no node claims, or whose operand Spark cast
# implicitly from a STRING (Presto refuses varchar / integer; the cast
# shares the site's span, where a written cast has its own), refuses:
# a wrong guess is never made silently.
# ---------------------------------------------------------------------------

#: marker → (probe stand-in, Spark call when not integral, (head, tail)
#: of the Spark call when integral).  An EXCLUDE marker has no
#: non-integral call: it refuses.  TRY(int / int) is Presto's truncated
#: BIGINT, NULL on zero-divide or overflow: try_divide NULLs on zero and
#: the try_cast truncates toward zero and NULLs on overflow, exact while
#: |a/b| < 2^53 (the double mantissa).
_STAND_INS = {
    "__sparketl_sign": ("coalesce", "sign", ("cast(sign", " as bigint)")),
    "__sparketl_trydiv": (
        "try_mod", "try_divide", ("try_cast(try_divide", " as bigint)")
    ),
    **{
        _isum_mark(mode): ("coalesce", None, ("", ""))
        for mode in ("current row", "group", "ties")
    },
}
_MARK_RE = re.compile("(" + "|".join(_STAND_INS) + r")\(")
_SITE_RE = re.compile("/|" + _MARK_RE.pattern)
_FLOOR_RE = re.compile(r"\b(floor|ceiling|ceil)(\s*\()", re.IGNORECASE)
_INTEGRAL = frozenset({"byte", "short", "integer", "long"})


def _probe(masked: str) -> str:
    """The same-length typing probe of a marked, masked text."""
    parts = masked.split("`")
    parts[::2] = [p.replace("/", "%") for p in parts[::2]]
    probe = _MARK_RE.sub(
        lambda m: _STAND_INS[m.group(1)][0].ljust(len(m.group(1))) + "(",
        "`".join(parts),
    )
    if probe == masked:
        return masked

    def pad_abs(m: re.Match) -> str:
        cp = _match_paren(probe, m.end() - 1)
        if len(_split_args(probe[m.end() : cp])) != 1:
            return m.group(0)
        return "abs".ljust(len(m.group(1))) + m.group(2)

    return _FLOOR_RE.sub(pad_abs, probe)


def _translation(
    masked: str, lits: list[str]
) -> tuple[str, str, "str | None"]:
    """(untyped Spark text, marked text, typing probe) of a rewritten,
    masked text; the probe is None when the text has no site."""
    text = _unmask(
        _MARK_RE.sub(
            lambda m: (_STAND_INS[m.group(1)][1] or "") + "(", masked
        ),
        lits,
    )
    probe = _probe(masked)
    if probe == masked:
        return text, text, None
    return text, _unmask(masked, lits), _unmask(probe, lits)


def _sites(marked: str, probe: "str | None") -> "list[tuple[int, str]]":
    """(position, "/" or marker name) of every site of a marked text:
    where its probe differs (a `/` or a marker name in a literal or a
    quoted identifier reads the same in both)."""
    if probe is None:
        return []
    return [
        (m.start(), m.group(1) or "/")
        for m in _SITE_RE.finditer(marked)
        if probe[m.start()] != marked[m.start()]
    ]


def _analyzed(
    spark: SparkSession, text: str, over: "Callable[[], DataFrame] | None"
):
    """Spark's analyzed plan of a statement, or of one expression over
    the frame ``over()`` — parsed and analyzed, never run."""
    if over is not None:
        return over().selectExpr(text)._jdf.queryExecution().analyzed()  # noqa: SLF001
    st = spark._jsparkSession.sessionState()  # noqa: SLF001
    return _analyze(spark, st.sqlParser().parsePlan(text))


def _analyze(spark: SparkSession, parsed):
    """Spark's analyzed plan of a parsed statement."""
    st = spark._jsparkSession.sessionState()  # noqa: SLF001
    skip = _jvm_const(spark._jvm, "execution.CommandExecutionMode", "SKIP")  # noqa: SLF001
    return st.executePlan(parsed, skip).analyzed()


@functools.cache
def _jvm_const(jvm, cls: str, name: str):
    """A constant of ``org.apache.spark.sql.<cls>``, looked up once per
    JVM by the class's full name: one py4j round trip, where a package
    walk (``jvm.org.apache...``) makes one per dot."""
    return getattr(getattr(jvm, f"org.apache.spark.sql.{cls}"), name)()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


_ORIGIN_RE = re.compile(
    r"Origin\((?:None|Some\(\d+\)),(?:None|Some\(\d+\)),"
    r"Some\((\d+)\),Some\((\d+)\)"
)


def _span(n) -> "tuple[int, int] | None":
    """(start, stop) of a node's text, None when it has none — read from
    the origin's string, one JVM call instead of five."""
    m = _ORIGIN_RE.match(n.origin().toString())
    return (int(m.group(1)), int(m.group(2))) if m else None


_SUBQUERIES = ("ScalarSubquery", "Exists", "ListQuery", "LateralSubquery")


def _nodes(spark: SparkSession, roots: list, patterns: "tuple[str, ...]"):
    """Every (scope, node) under the (is a plan, node) ``roots`` whose
    subtree holds one of the tree ``patterns``: plans, their
    expressions, subquery plans and CTE bodies, but not views (their
    text was typed when they were created).  A scope numbers a query
    block: a derived table, CTE body or subquery starts a new one."""
    kinds = [
        _jvm_const(spark._jvm, "catalyst.trees.TreePattern", p)  # noqa: SLF001
        for p in patterns
    ]
    scopes = itertools.count(1)
    todo = [(0, is_plan, n) for is_plan, n in roots]
    while todo:
        scope, is_plan, n = todo.pop()
        name = n.nodeName()
        if name == "UnresolvedWith":  # its CTE bodies are not children
            todo += [(scope, True, c) for c in _seq(n.innerChildren())]
        if name == "View" or not any(n.containsPattern(k) for k in kinds):
            continue
        yield scope, n
        if is_plan:
            todo += [(scope, False, e) for e in _seq(n.expressions())]
            if name == "SubqueryAlias":
                scope = next(scopes)
        elif name in _SUBQUERIES:
            todo.append((next(scopes), True, n.plan()))
        todo += [(scope, is_plan, c) for c in _seq(n.children())]


def _casts_string(n, span: "tuple[int, int]") -> bool:
    """Whether Spark cast a STRING to an operand of ``n``: an implicit
    cast under ``n`` shares its span (a written one has its own)."""
    todo = [n]
    while todo:
        for c in _seq(todo.pop().children()):
            if _span(c) != span:
                continue
            if c.nodeName() != "Cast":
                todo.append(c)
            elif c.child().dataType().typeName().startswith("string"):
                return True
    return False


def _claims(
    spark: SparkSession,
    probe: str,
    over: "Callable[[], DataFrame] | None",
    sites: "dict[int, str]",
) -> "tuple[dict[int, set], list[tuple[int, int]]]":
    """Site position → {(stop of the claiming node's span, typed
    integral, has an operand cast from a STRING)}, from Spark's analysis
    of ``probe``; and the spans of the probe's VALUES lists.  A site
    whose node Spark replaced by a reference to an equal expression (an
    ORDER BY or HAVING term that is also selected) takes the claims of
    the sites with the same parsed expression in its query block (the
    parsed node's text, which keeps no spacing).  Over a frame,
    only the probe's own expression is walked."""
    parser = spark._jsparkSession.sessionState().sqlParser()  # noqa: SLF001
    if over is None:
        parsed = [(True, parser.parsePlan(probe))]
    else:
        parsed = [(False, parser.parseExpression(probe))]
    where: dict = {}  # site → (scope, span, node) in the parsed probe
    lists = []
    kinds = ("BINARY_ARITHMETIC", "LOCAL_RELATION")
    if any(site != "/" for site in sites.values()):
        kinds += ("UNRESOLVED_FUNCTION",)
    for scope, n in _nodes(spark, parsed, kinds):
        name = n.nodeName()
        if name in ("LocalRelation", "UnresolvedInlineTable"):
            span = _span(n)
            if span and probe[span[0] : span[0] + 6].lower() == "values":
                lists.append(span)
            continue
        if name == "Remainder":
            span, right = _span(n), _span(n.right())
            pos = span and right and probe.rfind("%", span[0], right[0])
        elif name == "UnresolvedFunction":
            span = _span(n)
            pos = span and span[0]
        else:
            continue
        if pos in sites:
            where[pos] = (scope, span, n)
    ops = {span: pos for pos, (_scope, span, _node) in where.items()}
    if over is None:
        analyzed = [(True, _analyze(spark, parsed[0][1]))]
    else:
        plan = _analyzed(spark, probe, over)
        analyzed = [(False, e) for e in _seq(plan.expressions())]
    claims: dict = {}
    for _scope, n in _nodes(spark, analyzed, ("BINARY_ARITHMETIC", "COALESCE")):
        name = n.nodeName()
        if name not in ("Remainder", "Coalesce", "TryMod"):
            continue
        span = _span(n)
        pos = ops.get(span) if name == "Remainder" else span and span[0]
        if pos in sites:
            claims.setdefault(pos, set()).add((
                span[1],
                n.dataType().typeName() in _INTEGRAL,
                _casts_string(n, span),
            ))
    unclaimed = [pos for pos in where if pos not in claims]
    if unclaimed:
        said = {pos: node.toString() for pos, (_, _, node) in where.items()}
        for pos in unclaimed:
            for twin, (scope, _, _) in where.items():
                if twin in claims and scope == where[pos][0] and said[twin] == said[pos]:
                    claims.setdefault(pos, set()).update(claims[twin])
    return claims, lists


def _values_claims(
    spark: SparkSession,
    probe: str,
    sites: "dict[int, str]",
    claims: dict,
    lists: "list[tuple[int, int]]",
) -> None:
    """Claim the sites inside the VALUES ``lists``: Spark evaluates a
    list while parsing or analyzing it, so a second probe reads each
    list that holds an unclaimed site as a SELECT of its rows, at the
    same positions (a row of several values reads as a struct)."""
    for start, stop in lists:
        if all(p in claims for p in sites if start < p < stop):
            continue
        rows = (
            " " * start + "select" + probe[start + 6 : stop + 1]
            + " " * (len(probe) - stop - 1)
        )
        try:
            more, _lists = _claims(spark, rows, None, sites)
        except AnalysisException as e:
            raise _cannot_type(
                "Spark rejects the VALUES list read as a SELECT "
                f"({str(e).splitlines()[0]})"
            ) from e
        for p, got in more.items():
            claims.setdefault(p, set()).update(got)


def _cannot_type(why: str) -> ValueError:
    return ValueError(
        f"dialect: cannot type the operands of `/` (or of sign/TRY/"
        f"EXCLUDE): {why}.  Cast an operand (cast(x as double) for "
        "double division) or spell the truncating division `x div y`"
    )


def _resolve(marked: str, sites: "dict[int, str]", claims: dict) -> str:
    """``marked`` with every site decided by its ``claims``."""
    edits = []
    for pos, site in sites.items():
        got = claims.get(pos)
        at = repr(
            _MARK_RE.sub(
                lambda m: (_STAND_INS[m.group(1)][1] or "sum") + "(",
                marked[max(0, pos - 24) : pos + 24],
            )
        )
        if not got:
            raise _cannot_type(f"Spark's analysis keeps no node for {at}")
        if any(string for _stop, _int, string in got):
            raise _cannot_type(
                f"an operand in {at} is a string (Presto refuses varchar "
                "arithmetic)"
            )
        integral = all(i for _stop, i, _string in got)
        if site == "/":
            if integral:
                edits.append((pos, 1, " div "))
            continue
        _stand_in, plain, (head, tail) = _STAND_INS[site]
        if integral:
            stop = next(iter(got))[0]
            edits += [(pos, len(site), head), (stop + 1, 0, tail)]
        elif plain is None:
            raise ValueError(_isum_refusal(site))
        else:
            edits.append((pos, len(site), plain))
    out = marked
    for pos, n, text in sorted(edits, reverse=True):
        out = out[:pos] + text + out[pos + n :]
    return out


def _typed(
    spark: SparkSession,
    presto_sql: str,
    over: "Callable[[], DataFrame] | None" = None,
) -> str:
    """Spark text of a Presto statement — or, with ``over``, of one
    expression over the columns of the frame ``over()`` — with every
    type-dependent site decided by Spark's types of its probe.  A text
    without such a site costs no analysis (and no ``over()`` call)."""
    text, marked, probe = _translate(presto_sql)
    sites = dict(_sites(marked, probe))
    if not sites:
        return text
    try:
        claims, lists = _claims(spark, probe, over, sites)
    except AnalysisException as e:
        _analyzed(spark, text, over)  # the text's own error first
        raise _cannot_type(
            "Spark rejects the typing probe, which reads each `/` as `%` "
            f"({str(e).splitlines()[0]})"
        ) from e
    _values_claims(spark, probe, sites, claims, lists)
    return _resolve(marked, sites, claims)


def _plan_with_metrics(node, depth: int = 0, out: "list[str] | None" = None):
    """Render an EXECUTED SparkPlan tree with each operator's ACTUAL
    SQLMetric values (rows out, scan bytes/files, shuffle bytes,
    agg/pipeline times — the numbers the Spark SQL UI shows), walked
    through the JVM handle.  AQE wrappers (AdaptiveSparkPlanExec and
    the *QueryStageExec materialization points) are unwrapped via
    ``executedPlan()`` / ``plan()`` — ``children()`` is empty on a
    query stage, so the plain walk would stop at ResultQueryStage."""
    out = [] if out is None else out
    cls = node.getClass().getSimpleName()
    pairs = []
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        v = kv._2().value()
        if v:
            pairs.append(f"{kv._1()}={v}")
    out.append(
        "   " * depth
        + node.nodeName()
        + (" [" + ", ".join(sorted(pairs)[:8]) + "]" if pairs else "")
    )
    if cls == "AdaptiveSparkPlanExec":
        _plan_with_metrics(node.executedPlan(), depth + 1, out)
        return out
    if cls.endswith("QueryStageExec"):
        _plan_with_metrics(node.plan(), depth + 1, out)
        return out
    ch = node.children()
    for i in range(ch.size()):
        _plan_with_metrics(ch.apply(i), depth + 1, out)
    return out


def _explain_analyze(spark: SparkSession, query_sql: str) -> DataFrame:
    """Trino ``EXPLAIN ANALYZE <query>`` (round 14 — the last
    'refuses' entry on the r13 missing list): EXECUTE the translated
    query and return the FINAL adaptive physical plan annotated with
    per-operator runtime metrics, as one ``(query_plan varchar)`` row
    — Trino's one-column result shape.

    The output is streamed through ``toLocalIterator`` and discarded
    (one partition buffered at a time), so analyzing a large SELECT
    never materializes the whole result on the driver — the executed
    statement's cost is the statement's own distributed cost, as in
    Trino.  With AQE on, the plan shown IS the runtime-replanned one
    (coalesced shuffles, switched join strategies), which is exactly
    the artifact a 100-TB plan review wants."""
    import time as _time

    df = spark.sql(_typed(spark, query_sql))
    t0 = _time.perf_counter()
    n = sum(1 for _ in df.toLocalIterator())
    wall = _time.perf_counter() - t0
    lines = _plan_with_metrics(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    text = (
        f"Query executed in {wall:.3f}s, {n} output row(s)\n"
        + "\n".join(lines)
    )
    return local_frame(spark, [(text,)], "query_plan string")


def sql(spark: SparkSession, presto_sql: str) -> DataFrame:
    """Run Presto-dialect SQL against the current Spark catalog.

    Statement routing (round 12, VERDICT r11 #1/#8): SELECT-shaped
    statements translate and run directly; DML/DDL leaders (INSERT
    INTO, CREATE TABLE AS, DELETE, UPDATE, MERGE INTO, DROP TABLE)
    route to ``sparketl.dml`` (parquet-backed writable tables, pruned
    copy-on-write); ``EXPLAIN <query>`` returns Spark's FORMATTED plan
    for the translated query, and ``EXPLAIN ANALYZE <query>`` (round
    14) EXECUTES it and returns the final adaptive plan annotated with
    per-operator runtime metrics (`_explain_analyze`; a DML statement
    has no one Spark plan to annotate, so it executes and reports its
    write-side metrics instead — `sparketl.dml.explain_analyze`).

    Types: a text holding a `/` (or a user's sign(), TRY(a / b), or an
    EXCLUDE over sum(x)) is typed by Spark's analyzer through its probe
    (see "Typing by probe"), against the catalog as it is at this call:
    any table or view, however it was registered or replaced, types
    its columns by its own schema.  An unknown column raises Spark's
    own error (UNRESOLVED_COLUMN); a probe Spark rejects while the text
    itself analyzes (e.g. an INTERVAL / number), a STRING operand (Spark
    would cast it; Presto refuses varchar / integer), and a site no
    analyzed node claims refuse instead of guessing.

    Requires the default ``spark.sql.parser.escapedStringLiterals=false``:
    ``_unmask``'s backslash doubling compensates for Spark's escaping
    parser, so under Hive-compat raw literals it would CORRUPT every
    backslash-bearing literal (``'\\d'`` → literal ``'\\\\d'``).  Checked
    here, loudly, rather than silently mistranslating."""
    if (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        == "true"
    ):
        raise ValueError(
            "dialect.sql() requires spark.sql.parser.escapedStringLiterals="
            "false (the Spark default): the translator doubles backslashes "
            "to preserve Presto raw-literal bytes under the escaping parser"
        )
    em = re.match(r"\s*explain\b(\s+analyze\b)?", presto_sql, re.IGNORECASE)
    if em:
        if em.group(1):
            inner = presto_sql[em.end() :]
            from sparketl import dml as _dml

            if _dml.is_dml(inner):
                # round 15 (VERDICT r14 #7): EXECUTE the statement and
                # report the write-side metrics (rows affected, files/
                # bytes written, partitions touched, write strategy) —
                # a DML statement has no single Spark plan to
                # annotate, so the directory diff IS the analyze
                # artifact
                return _dml.explain_analyze(spark, inner)
            return _explain_analyze(spark, inner)
        inner = presto_sql[em.end() :]
        om = re.match(
            r"\s*\(\s*(type|format)\s", inner, re.IGNORECASE
        )
        if om:
            raise ValueError(
                "dialect: EXPLAIN (TYPE/FORMAT ...) options are refused "
                "— plain EXPLAIN returns Spark's FORMATTED physical plan"
            )
        from sparketl import dml as _dml

        if _dml.is_dml(inner):
            # Spark would "plan" the unparseable DML text into an
            # error-carrying row — refuse instead (round-12 review)
            raise ValueError(
                "dialect: EXPLAIN of a DML/DDL statement is refused — "
                "DML executes through the front door without a Spark "
                "plan to show; EXPLAIN the statement's SELECT body "
                "instead"
            )
        return spark.sql("EXPLAIN FORMATTED " + _typed(spark, inner))
    from sparketl import dml as _dml

    if _dml.is_dml(presto_sql):
        return _dml.execute(spark, presto_sql)
    return spark.sql(_typed(spark, presto_sql))
