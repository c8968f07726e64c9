"""Engine-portable scalar expressions, emitted as ANSI SQL strings.

This module is the parity mechanism between the Spark engine and the
DuckDB correctness oracle: each function renders ONE SQL expression
evaluated by both engines, parameterized by a small :class:`Dialect`
that encapsulates the handful of constructs whose spelling or
semantics differ (day-of-week origin, global regexp replace, numeric
truncation).  Keeping these JVM-evaluable (plain SQL, no Python UDFs)
also keeps them inside whole-stage codegen on the Spark side; a
cross-engine grid test (tests/test_sql_parity.py) pins that both
dialects produce identical values.

Domain semantics mirrored from the reference:

- time slots:     /root/reference/src/types/time_slots.rs:27-201
- route sections: /root/reference/src/types/route_sections.rs:37-52
- 12 s delay rounding (trunc toward zero, Rust integer division):
                  /root/reference/src/analyser/specific_curves.rs:316-321
- haversine:      /root/reference/src/monitor/journey_data.rs:61-77
- GTFS noon-anchored datetime: /root/reference/src/types/gtfs_time.rs:53-56
"""

from __future__ import annotations


class Dialect:
    """Engine-specific SQL spellings. Everything else is shared ANSI."""

    name = "ansi"

    def dow(self, ts: str) -> str:
        """days-from-Monday (Mon=0..Sun=6) of a timestamp expression."""
        raise NotImplementedError

    def regexp_replace_all(self, s: str, pattern: str, replacement: str) -> str:
        raise NotImplementedError

    def trunc_num(self, x: str) -> str:
        """Truncate a double toward zero, returning an integer type."""
        raise NotImplementedError

    def json_get(self, col: str, key: str) -> str:
        """Top-level key of a JSON string column as STRING; NULL on a
        missing key or malformed JSON (Spark's get_json_object is
        already null-lenient, DuckDB needs a json_valid guard)."""
        raise NotImplementedError

    def regexp_count(self, s: str, pattern: str) -> str:
        raise NotImplementedError

    def series(self, n: int, col: str = "i") -> str:
        """Subquery producing integers 0..n-1 in column ``col``."""
        raise NotImplementedError

    def explode_range(self, n_expr: str) -> str:
        """Generator expression: one row per integer in [0, n_expr)."""
        raise NotImplementedError

    def explode_tokens(self, text: str) -> str:
        """Generator expression: one row per lowercase whitespace token."""
        raise NotImplementedError

    def arr_get(self, arr: str, idx0: str) -> str:
        """Array element by 0-based index expression."""
        raise NotImplementedError

    def xor(self, a: str, b: str) -> str:
        raise NotImplementedError

    def shiftright(self, a: str, n: int) -> str:
        """Integer right shift (exact on the full BIGINT range —
        float-division truncation is NOT exact above 2**53)."""
        raise NotImplementedError

    def hex_to_bigint(self, expr: str) -> str:
        """Hex string (<= 15 chars, so < 2**60) -> BIGINT."""
        raise NotImplementedError

    def to_double_array(self, arr: str) -> str:
        raise NotImplementedError

    def arr_dot(self, a: str, b: str) -> str:
        """Dot product of two double-array columns."""
        raise NotImplementedError

    def ordered_list(self, val: str, ord_col: str) -> str:
        """Aggregate: array of ``val`` ordered by ``ord_col``."""
        raise NotImplementedError

    def ordered_list_csv(self, val: str, ord_col: str,
                         sep: str = ",") -> str:
        """Aggregate: ``val`` rendered to string, ordered by
        ``ord_col``, joined with ``sep`` — the driver-hashable scalar
        form of :meth:`ordered_list` (array cells crash the driver's
        pandas canonicalizer and hash engine-dependently)."""
        raise NotImplementedError

    def token_array(self, text: str) -> str:
        """Array of non-empty lowercase whitespace tokens."""
        raise NotImplementedError

    def bigram_list(self, arr: str) -> str:
        """Array of space-joined adjacent pairs of ``arr`` (empty for
        arrays shorter than 2)."""
        raise NotImplementedError

    def explode_arr(self, arr: str) -> str:
        """Generator expression: one row per element of ``arr``."""
        raise NotImplementedError

    def arr_len(self, arr: str) -> str:
        """Element count of an array expression."""
        raise NotImplementedError

    def arr_slice_join(self, arr: str, idx0: str, n: int,
                       sep: str = " ") -> str:
        """``n`` elements of ``arr`` starting at 0-based ``idx0``,
        joined with ``sep`` — the word-n-gram constructor."""
        raise NotImplementedError

    def arr_slice(self, arr: str, idx0: str, n: str) -> str:
        """``n`` elements of ``arr`` starting at 0-based ``idx0``, as
        an array — the subvector extractor (``idx0``/``n`` may be
        column expressions)."""
        raise NotImplementedError

    def arr_join(self, arr: str, sep: str = " ") -> str:
        """All elements of ``arr`` joined with ``sep`` ('' if empty)."""
        raise NotImplementedError

    def arr_intersect_len(self, a: str, b: str) -> str:
        """Distinct-element intersection size of two arrays."""
        raise NotImplementedError

    def shl1(self, bits: str) -> str:
        """BIGINT 1 << ``bits`` (bits < 63)."""
        raise NotImplementedError

    def arr_fsum(self, arr: str) -> str:
        """LEFT-ASSOCIATED fold-sum of a double array — deterministic
        IEEE result for a given element order, unlike a parallel SUM
        whose partial-combine order is engine/partitioning dependent."""
        raise NotImplementedError

    def shr(self, x: str, bits: int) -> str:
        """BIGINT ``x`` >> ``bits`` (non-negative x)."""
        raise NotImplementedError

    def intdiv(self, a: str, b: str) -> str:
        """Integer division a/b; cross-engine-identical only for
        NON-NEGATIVE operands (Spark DIV truncates toward zero,
        DuckDB // floors)."""
        raise NotImplementedError

    def str_lit(self, s: str) -> str:
        """Render a Python string as a SQL single-quoted literal.
        ANSI/DuckDB only needs quote doubling; Spark additionally
        parses C-style escapes inside literals (its default
        ``escapedStringLiterals=false``), so a backslash left bare
        would silently diverge cross-engine — see the Spark
        override."""
        return "'{}'".format(s.replace("'", "''"))


class SparkDialect(Dialect):
    name = "spark"

    def str_lit(self, s: str) -> str:
        # Spark treats backslash as an escape inside string literals;
        # double it so caller-supplied text (e.g. blocklist patterns)
        # renders to the SAME literal Spark-side and DuckDB-side.
        return "'{}'".format(s.replace("\\", "\\\\").replace("'", "''"))

    def dow(self, ts: str) -> str:
        # dayofweek: Sun=1..Sat=7
        return f"((dayofweek({ts}) + 5) % 7)"

    def regexp_replace_all(self, s, pattern, replacement):
        # Spark's 3-arg regexp_replace is global
        return f"regexp_replace({s}, '{pattern}', '{replacement}')"

    def trunc_num(self, x: str) -> str:
        # CAST double→int truncates toward zero in Spark
        return f"CAST({x} AS INT)"

    def json_get(self, col: str, key: str) -> str:
        return f"get_json_object({col}, '$.{key}')"

    def regexp_count(self, s, pattern):
        return f"regexp_count({s}, '{pattern}')"

    def series(self, n: int, col: str = "i") -> str:
        return f"(SELECT explode(sequence(0, {n - 1})) AS {col})"

    def explode_range(self, n_expr: str) -> str:
        # sequence(0, n-1) DESCENDS for n <= 0 in Spark (sequence(0,-1)
        # = [0, -1]) where DuckDB's range(n<=0) is empty — slice to
        # max(n, 0) elements so both engines emit nothing for empties
        return (f"explode(slice(sequence(0, greatest(({n_expr}) - 1, 0)), "
                f"1, greatest(({n_expr}), 0)))")

    def explode_tokens(self, text: str) -> str:
        return f"explode(split(lower({text}), ' +'))"

    def arr_get(self, arr: str, idx0: str) -> str:
        return f"{arr}[{idx0}]"

    def xor(self, a: str, b: str) -> str:
        return f"({a} ^ {b})"

    def shiftright(self, a: str, n: int) -> str:
        return f"shiftright({a}, {n})"

    def hex_to_bigint(self, expr: str) -> str:
        return f"CAST(conv({expr}, 16, 10) AS BIGINT)"

    def to_double_array(self, arr: str) -> str:
        return f"transform({arr}, v -> CAST(v AS DOUBLE))"

    def arr_dot(self, a: str, b: str) -> str:
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                "0D, (acc, v) -> acc + v)")

    def ordered_list(self, val: str, ord_col: str) -> str:
        return (f"transform(array_sort(collect_list("
                f"struct({ord_col} AS o, {val} AS v))), x -> x.v)")

    def ordered_list_csv(self, val: str, ord_col: str,
                         sep: str = ",") -> str:
        return (f"array_join(transform(array_sort(collect_list("
                f"struct({ord_col} AS o, {val} AS v))), "
                f"x -> CAST(x.v AS STRING)), '{sep}')")

    def token_array(self, text: str) -> str:
        return f"filter(split(lower({text}), ' +'), t -> t <> '')"

    def bigram_list(self, arr: str) -> str:
        # sequence(0, -1) would DESCEND in Spark — guard short arrays
        return (f"CASE WHEN size({arr}) < 2 THEN array() "
                f"ELSE transform(sequence(0, size({arr}) - 2), "
                f"i -> concat({arr}[i], ' ', {arr}[i + 1])) END")

    def explode_arr(self, arr: str) -> str:
        return f"explode({arr})"

    def arr_len(self, arr: str) -> str:
        return f"size({arr})"

    def arr_slice_join(self, arr: str, idx0: str, n: int,
                       sep: str = " ") -> str:
        # slice() takes a 1-based start index
        return f"array_join(slice({arr}, ({idx0}) + 1, {n}), '{sep}')"

    def arr_slice(self, arr: str, idx0: str, n: str) -> str:
        return f"slice({arr}, ({idx0}) + 1, ({n}))"

    def arr_join(self, arr: str, sep: str = " ") -> str:
        return f"array_join({arr}, '{sep}')"

    def arr_intersect_len(self, a: str, b: str) -> str:
        return f"size(array_intersect({a}, {b}))"

    def shl1(self, bits: str) -> str:
        return f"shiftleft(CAST(1 AS BIGINT), {bits})"

    def arr_fsum(self, arr: str) -> str:
        # ((0 + a1) + a2) + ... ; 0.0 + a1 == a1 exactly in IEEE
        return f"aggregate({arr}, 0D, (acc, v) -> acc + v)"

    def shr(self, x: str, bits: int) -> str:
        return f"shiftright({x}, {bits})"

    def intdiv(self, a: str, b: str) -> str:
        # truncating on Spark; callers keep operands non-negative so
        # this agrees with DuckDB's flooring //
        return f"(({a}) DIV ({b}))"


class DuckDBDialect(Dialect):
    name = "duckdb"

    def dow(self, ts: str) -> str:
        # isodow: Mon=1..Sun=7
        return f"(CAST(isodow({ts}) AS INTEGER) - 1)"

    def regexp_replace_all(self, s, pattern, replacement):
        return f"regexp_replace({s}, '{pattern}', '{replacement}', 'g')"

    def trunc_num(self, x: str) -> str:
        # CAST double→int ROUNDS in DuckDB; use trunc() first
        return f"CAST(trunc({x}) AS INTEGER)"

    def json_get(self, col: str, key: str) -> str:
        return (f"CASE WHEN json_valid({col}) THEN "
                f"json_extract_string({col}, '$.{key}') END")

    def regexp_count(self, s, pattern):
        return f"len(regexp_extract_all({s}, '{pattern}'))"

    def series(self, n: int, col: str = "i") -> str:
        return f"(SELECT unnest(range({n})) AS {col})"

    def explode_range(self, n_expr: str) -> str:
        return f"unnest(range({n_expr}))"

    def explode_tokens(self, text: str) -> str:
        return f"unnest(string_split_regex(lower({text}), ' +'))"

    def arr_get(self, arr: str, idx0: str) -> str:
        return f"{arr}[({idx0}) + 1]"

    def xor(self, a: str, b: str) -> str:
        return f"xor({a}, {b})"

    def shiftright(self, a: str, n: int) -> str:
        return f"({a} >> {n})"

    def hex_to_bigint(self, expr: str) -> str:
        return f"CAST(CAST(('0x' || {expr}) AS UBIGINT) AS BIGINT)"

    def to_double_array(self, arr: str) -> str:
        return f"CAST({arr} AS DOUBLE[])"

    def arr_dot(self, a: str, b: str) -> str:
        return f"list_dot_product({a}, {b})"

    def ordered_list(self, val: str, ord_col: str) -> str:
        return f"list({val} ORDER BY {ord_col})"

    def ordered_list_csv(self, val: str, ord_col: str,
                         sep: str = ",") -> str:
        return (f"string_agg(CAST({val} AS VARCHAR), '{sep}' "
                f"ORDER BY {ord_col})")

    def token_array(self, text: str) -> str:
        return (f"list_filter(string_split_regex(lower({text}), ' +'), "
                f"t -> t <> '')")

    def bigram_list(self, arr: str) -> str:
        # DuckDB arrays are 1-based; range(n<=0) is already empty
        return (f"list_transform(range(len({arr}) - 1), "
                f"i -> {arr}[i + 1] || ' ' || {arr}[i + 2])")

    def explode_arr(self, arr: str) -> str:
        return f"unnest({arr})"

    def arr_len(self, arr: str) -> str:
        return f"len({arr})"

    def arr_slice_join(self, arr: str, idx0: str, n: int,
                       sep: str = " ") -> str:
        # list_slice is 1-based with an INCLUSIVE end index; DuckDB's
        # array_to_string yields NULL on an empty slice where Spark's
        # array_join yields '' — pin the '' semantics
        return (f"COALESCE(array_to_string(list_slice({arr}, ({idx0}) + 1, "
                f"({idx0}) + {n}), '{sep}'), '')")

    def arr_slice(self, arr: str, idx0: str, n: str) -> str:
        # list_slice is 1-based with an INCLUSIVE end index
        return f"list_slice({arr}, ({idx0}) + 1, ({idx0}) + ({n}))"

    def arr_join(self, arr: str, sep: str = " ") -> str:
        # DuckDB's array_to_string is NULL on an empty list; Spark's
        # array_join is '' — pin the '' semantics
        return f"COALESCE(array_to_string({arr}, '{sep}'), '')"

    def arr_intersect_len(self, a: str, b: str) -> str:
        return f"len(list_intersect({a}, {b}))"

    def shl1(self, bits: str) -> str:
        return f"(CAST(1 AS BIGINT) << ({bits}))"

    def arr_fsum(self, arr: str) -> str:
        # list_reduce folds left from the first element — identical
        # association order to the Spark aggregate() spelling
        return (f"COALESCE(list_reduce({arr}, (x, y) -> x + y), "
                f"CAST(0 AS DOUBLE))")

    def shr(self, x: str, bits: int) -> str:
        return f"(({x}) >> {bits})"

    def intdiv(self, a: str, b: str) -> str:
        return f"(({a}) // ({b}))"


SPARK = SparkDialect()
DUCKDB = DuckDBDialect()


# ---------------------------------------------------------------------------
# GTFS domain expressions
# ---------------------------------------------------------------------------

# (id, min_weekday, max_weekday, min_hour, max_hour) — weekdays as
# days-from-Monday (Mon=0..Sun=6), hours [min, max) with wrap-around
# when min > max.  First match wins; id 12 is the always-matching
# DEFAULT slot.
TIME_SLOTS: tuple[tuple[int, int, int, int, int], ...] = (
    (1, 0, 4, 4, 6),    # workday morning
    (2, 0, 4, 6, 8),    # workday morning rush
    (3, 0, 4, 8, 12),   # workday late morning
    (4, 0, 4, 12, 14),  # workday noon rush
    (5, 0, 4, 14, 16),  # workday afternoon
    (6, 0, 4, 16, 18),  # workday afternoon rush
    (7, 0, 4, 18, 20),  # workday evening
    (8, 5, 5, 4, 20),   # saturday day
    (9, 6, 6, 4, 20),   # sunday day
    (10, 6, 3, 20, 4),  # night before workday (Sun-Thu, wraps both axes)
    (11, 4, 5, 20, 4),  # night before weekend day (Fri-Sat)
)

TIME_SLOT_DEFAULT_ID = 12


def _range_cond(expr: str, lo: int, hi: int, half_open: bool) -> str:
    cmp_hi = "<" if half_open else "<="
    if lo > hi:  # wrap-around
        return f"({expr} >= {lo} OR {expr} {cmp_hi} {hi})"
    return f"({expr} >= {lo} AND {expr} {cmp_hi} {hi})"


def time_slot_id(ts: str, d: Dialect) -> str:
    """CASE expression classifying a timestamp into time-slot ids 1-11
    (12 = unreachable fallback, kept for totality). First match wins,
    matching the reference's scan order."""
    dow, hour = d.dow(ts), f"hour({ts})"
    whens = []
    for sid, wlo, whi, hlo, hhi in TIME_SLOTS:
        day = _range_cond(dow, wlo, whi, half_open=False)
        hr = _range_cond(hour, hlo, hhi, half_open=True)
        whens.append(f"WHEN {day} AND {hr} THEN {sid}")
    return "CASE " + " ".join(whens) + f" ELSE {TIME_SLOT_DEFAULT_ID} END"


def route_section(stop_index: str, stop_count: str, d: Dialect) -> str:
    """'beginning' / 'middle' / 'end' with section_size =
    min(5, stop_count/3) (integer division; stop_index is 0-based)."""
    size = f"LEAST(5, {d.trunc_num(f'({stop_count}) / 3.0')})"
    return (
        f"CASE WHEN {stop_index} < {size} THEN 'beginning' "
        f"WHEN ({stop_count}) - ({stop_index}) <= {size} THEN 'end' "
        f"ELSE 'middle' END"
    )


def round_to_12s(delay: str, d: Dialect) -> str:
    """Rust ``(d/12)*12``: integer division truncating toward zero —
    NOT floor — so -13 → -12, not -24."""
    return f"({d.trunc_num(f'({delay}) / 12.0')} * 12)"


def haversine_m(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in meters (double precision)."""
    return (
        "(2 * 6371000.0 * ASIN(SQRT("
        f"POW(SIN(RADIANS(({lat2}) - ({lat1})) / 2), 2) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
        f"POW(SIN(RADIANS(({lon2}) - ({lon1})) / 2), 2)"
        ")))"
    )


def gtfs_noon_datetime(service_date: str, seconds: str) -> str:
    """GTFS rule (C1/C2): event time = service_day@12:00 local +
    (seconds - 12h).  Anchoring at local noon, not midnight + 12
    physical hours, keeps the wall time right on DST-transition days;
    seconds past 24:00 carry into the next day.  The one derivation of
    "service date + seconds → instant" every path uses."""
    return (
        f"(make_timestamp(year({service_date}), month({service_date}), "
        f"day({service_date}), 12, 0, 0) "
        f"+ (({seconds}) - 43200) * INTERVAL 1 SECOND)"
    )


def event_type_stack(columns: dict[str, tuple[str, str]]) -> str:
    """Spark ``stack`` generator: one row per GTFS event type,
    ``event_type`` 1 (arrival) then 2 (departure), each output column
    taking its (arrival, departure) source column from ``columns``.  A
    single fan-out of one plan, where a union would repeat the plan."""
    rows = ", ".join(
        f"CAST({et} AS TINYINT), " + ", ".join(c[i] for c in columns.values())
        for i, et in enumerate((1, 2)))
    return f"stack(2, {rows}) AS (event_type, {', '.join(columns)})"


# ---------------------------------------------------------------------------
# text analysis (documents table)
# ---------------------------------------------------------------------------

# tiny per-language marker-word lists for the stopword language-ID
# heuristic; ties break by list order here (en < de < fr < es)
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "with")),
    ("de", ("der", "die", "und", "das")),
    ("fr", ("le", "la", "et", "les")),
    ("es", ("el", "los", "que", "para")),
)

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def token_count(text: str, d: Dialect) -> str:
    """Whitespace-delimited token count; 0 for blank strings."""
    norm = d.regexp_replace_all(f"TRIM({text})", " +", " ")
    spaces = f"(LENGTH({norm}) - LENGTH(REPLACE({norm}, ' ', '')))"
    return f"(CASE WHEN LENGTH(TRIM({text})) = 0 THEN 0 ELSE {spaces} + 1 END)"


# BPE-ish pre-tokenizer classes (GPT-2-style, simplified): a token is
# an optionally space-prefixed run of letters, digits, or "other"
# (punctuation etc.).  Kept free of backslash classes so the pattern
# is literally identical under Java regex (Spark) and RE2 (DuckDB).
BPE_TOKEN_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_count(text: str, d: Dialect) -> str:
    """Subword-ish token count: number of BPE-pre-tokenizer matches in
    the lowercased text (an upper bound on BPE merge output, the
    budget metric an LLM-data pipeline gates on)."""
    return d.regexp_count(f"LOWER({text})", BPE_TOKEN_PATTERN)


def word_occurrences(text: str, word: str) -> str:
    """Whole-word, case-insensitive occurrence count (non-overlapping),
    via pad-and-replace so it is identical SQL in both engines.
    Single-space padding means back-to-back repeats count every other
    occurrence — acceptable and *identical* in both engines."""
    padded = f"CONCAT(' ', LOWER({text}), ' ')"
    needle = f" {word} "
    return (
        f"CAST((LENGTH({padded}) - LENGTH(REPLACE({padded}, '{needle}', '')))"
        f" / {len(needle)} AS INTEGER)"
    )


def lang_score(text: str, lang: str) -> str:
    words = dict(LANG_MARKERS)[lang]
    return "(" + " + ".join(word_occurrences(text, w) for w in words) + ")"


def lang_id_case(scores: dict[str, str]) -> str:
    """The argmax CASE over per-language score *expressions*; ties
    break in LANG_MARKERS order via strictly-greater comparison
    against all later languages.  Callers that can stage the scores
    in a FROM-level projection should pass plain column names here so
    each score is evaluated ONCE per row (``lang_score`` is a chain
    of pad-and-REPLACE counts; inlined, the CASE re-evaluates up to
    2 scores × 3 comparisons × 3 branches = 18 score expressions per
    row — guide §4.1 'prefer expressions evaluated once')."""
    langs = list(scores)
    whens = []
    for i, l in enumerate(langs[:-1]):
        conds = []
        for j, m in enumerate(langs):
            if i == j:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"{scores[l]} {op} {scores[m]}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{l}'")
    return "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"


def lang_id(text: str) -> str:
    """argmax over language marker scores; ties break in LANG_MARKERS
    order via strictly-greater comparison against all later languages.
    Single self-contained expression — prefer staging
    :func:`lang_score` per language in a subquery and applying
    :func:`lang_id_case` over the columns where the query shape
    allows (see q_lang_id)."""
    langs = [l for l, _ in LANG_MARKERS]
    return lang_id_case({l: lang_score(text, l) for l in langs})


def stopword_count(text: str) -> str:
    return "(" + " + ".join(word_occurrences(text, w) for w in STOPWORDS) + ")"


def format_delay(secs: str) -> str:
    """C17 ``format_delay``: '+N'/'-N' minute-ish strings
    (monitor/mod.rs:1174-1181)."""
    return (f"(CASE WHEN {secs} >= 0 THEN CONCAT('+', CAST({secs} AS STRING)) "
            f"ELSE CAST({secs} AS STRING) END)")


def format_duration_min(secs: str, d: Dialect) -> str:
    """C17 ``format_duration``: 'M:SS Min.' (monitor/mod.rs:1183-1190)."""
    m = d.trunc_num(f"({secs}) / 60.0")
    s = f"LPAD(CAST(({secs}) % 60 AS STRING), 2, '0')"
    return f"CONCAT(CAST({m} AS STRING), ':', {s}, ' Min.')"


def route_type_letter(route_type: str, route_name: str) -> str:
    """C18: route_type (+ name-prefix rules for rail: RB/RE/S/RS/IC…)
    → display class letter (monitor/mod.rs:894-922,1666-1681)."""
    return f"""CASE
        WHEN {route_type} = 2 AND ({route_name} LIKE 'RB%' OR {route_name} LIKE 'RE%') THEN 'r'
        WHEN {route_type} = 2 AND ({route_name} LIKE 'S%' OR {route_name} LIKE 'RS%') THEN 's'
        WHEN {route_type} = 2 AND ({route_name} LIKE 'IC%' OR {route_name} LIKE 'EC%') THEN 'd'
        WHEN {route_type} = 2 THEN 'r'
        WHEN {route_type} = 0 THEN 't'
        WHEN {route_type} = 1 THEN 'u'
        WHEN {route_type} = 3 THEN 'b'
        WHEN {route_type} = 4 THEN 'f'
        ELSE 'x' END"""


def quality_score(text: str, d: Dialect) -> str:
    """Heuristic document quality in [0,1]: mean of a length signal,
    an alphabetic-character ratio, and a stopword-presence signal.
    ROUND(…, 4) keeps cross-engine float drift out of the hash."""
    n = f"LENGTH({text})"
    alpha = f"LENGTH({d.regexp_replace_all(text, '[^a-zA-Z ]', '')})"
    length_signal = f"LEAST(1.0, {n} / 500.0)"
    alpha_ratio = f"(CASE WHEN {n} = 0 THEN 0.0 ELSE CAST({alpha} AS DOUBLE) / {n} END)"
    stop_signal = f"LEAST(1.0, {stopword_count(text)} / 10.0)"
    return f"ROUND(({length_signal} + {alpha_ratio} + {stop_signal}) / 3.0, 4)"


def url_encode(s: str) -> str:
    """C19 percent-encode (monitor/mod.rs:25-27,140): Spark's
    ``url_encode`` is application/x-www-form-urlencoded (space → '+'),
    the same convention the reference's serde_urlencoded uses for
    query strings."""
    return f"url_encode({s})"


def url_decode(s: str) -> str:
    """C19 inverse (journey_data.rs:18-20,192)."""
    return f"url_decode({s})"


def data_url(mime: str, content: str) -> str:
    """C22 base64 data-URL of a binary column
    (generate_png_data_url, monitor/mod.rs:1260-1261).  base64() emits
    MIME-chunked output in some engines; strip any line breaks so the
    URL is a single token."""
    b64 = f"REPLACE(REPLACE(base64({content}), CHR(13), ''), CHR(10), '')"
    return f"CONCAT('data:', {mime}, ';base64,', {b64})"
