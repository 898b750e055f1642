"""Custom aggregation-pipeline compiler (F1 `$match` + F2 `$addFields` + F3
variables, as ONE surface).

The reference accepts a user-supplied JSON aggregation pipeline
(`MONGODB_CUSTOM_PIPELINE`, /root/reference/README.md:94, e.g.
`[ {"$match": {"fullDocument.is_active": true}},
   {"$addFields": {"custom-field": "custom-value"}} ]`), substitutes
`%currentTimestamp%` into the raw JSON *before* parsing
(/root/reference/internal/mongo/variables/replace.go:24-30), and hands the
parsed stages to the server (watch_producer_test.go:149-199,
replay_producer_test.go:175).

Spark-first re-expression: the pipeline compiles to a chain of Catalyst
projections/filters at PLAN BUILD time on the driver. `$match` predicates
are ordinary Column expressions, so Catalyst pushes them into the parquet
scan (PushedFilters) exactly as Mongo evaluates them server-side; `$unset` /
`$project` are declarative column pruning, so dropped fields are never read.
Nothing here runs per row in Python.

Supported stages (the reference's documented surface plus the adjacent
Mongo basics a pipeline user expects — README.md:89-94 explicitly lets the
user inject `$group` stages): `$match`, `$addFields` (alias `$set`),
`$unset`, `$project` (include-only or exclude-only, as in Mongo),
`$group` (accumulators `$sum $avg $min $max $count $push $addToSet $first
$last` — the last two are order-undefined exactly as Mongo leaves them
without a preceding `$sort`), `$sort`, `$skip`, `$limit`, `$count`,
`$unwind` (posexplode; preserveNullAndEmptyArrays / includeArrayIndex as
in Mongo), `$lookup` (equality form; foreign collections supplied as
DataFrames via `tables=`), `$replaceRoot` / `$replaceWith` (struct
promotion), `$sortByCount`, `$bucket`, `$bucketAuto` (equal-count buckets with
data-derived {min,max} boundaries; tie-safe integer-arithmetic bucket
assignment, no granularity), `$facet`, `$unionWith` (unionByName,
missing columns allowed), `$setWindowFields` (window accumulators with
ROWS frames, $rank/$denseRank/$documentNumber, $shift → lead/lag),
`$densify` (numeric-step grid fill via sequence+explode), `$fill`
(constant or locf via last-ignorenulls window), `$sample` (Mongo random
mode plus a deterministic sha256-ordered `by` mode for reproducible corpus
subsampling), `$graphLookup` (BFS over distinct start values — per-level
equi joins, cycle-safe via visited anti-join), `$merge` (lake upsert
terminal), and `$out` (full-replace materialization terminal).
Unknown stages raise — a silently-dropped stage would diverge from the
reference, which forwards the stage to the server.

Scale notes for the relational stages: `$lookup` compiles to
collect_list-per-foreign-key + an equi hash join — Catalyst broadcasts the
gathered side when it is small (the Mongo-typical dimension lookup) and
shuffles on the key otherwise; `$unwind` is a generator expression inside
whole-stage codegen; neither runs Python per row.

`$match` operators: implicit equality, `$eq $ne $gt $gte $lt $lte $in $nin
$exists $regex $not`, and top-level `$and $or $nor`. Values are literals
(Mongo `$match` semantics — field references need `$expr`, unsupported).
Null semantics follow Mongo's missing-field rules: positive comparisons
(`$gt`, `$regex`, `$in`, …) never match a null field, while the NEGATION
operators (`$ne $nin $not $nor`) DO match it (Mongo negations match
documents where the field is missing) — so each negation wraps its operand
null-safely instead of letting Spark's three-valued logic drop the row.

Aggregation expressions (in `$addFields`/`$set` values, computed `$project`
fields, `$group` accumulator arguments, and `$match`'s `$expr`): JSON
literals, `"$path"` field references, nested documents (→ structs), and the
operator language — arithmetic (`$add $subtract $multiply $divide $mod
$abs $ceil $floor $round $trunc $sqrt $pow $exp $ln $log10`), strings
(`$concat $toLower $toUpper $strLenCP $substrCP $split $trim $replaceAll
$toString`), comparison (`$eq $ne $gt $gte $lt $lte $cmp`, 2-arg expression
form), boolean (`$and $or $not` with Mongo truthiness), conditionals
(`$cond $ifNull $switch`), type conversion (`$toInt $toLong $toDouble
$toBool`), arrays (`$size $arrayElemAt $concatArrays $in $slice`), dates
(`$year $month $dayOfMonth $hour $minute $second $dayOfWeek`), and
`$literal`. Every operator compiles to a built-in Catalyst expression —
whole-stage codegen, no Python per row. Dotted *source* paths navigate
structs (`F.col("a.b")`); a dotted `$addFields` *target* updates a field
inside an existing struct column via `withField` (Mongo nests the same
way). `%variables%` in the raw JSON are substituted before parsing,
matching the reference's replace-then-parse order — a substituted value
inside a JSON string stays a string, byte-for-byte like replace.go.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_mongo_watcher_spark.functions.variables import replace_variables

def _in(c: Column, vals: list) -> Column:
    # Mongo: `$in` containing null matches a missing/null field.
    nonnull = [x for x in vals if x is not None]
    e = c.isin(*nonnull) if nonnull else F.lit(False)
    if any(x is None for x in vals):
        e = e | c.isNull()
    return F.coalesce(e, F.lit(False))


_CMP = {
    # eqNullSafe: equality against JSON null matches the null field (Mongo:
    # {f: null} matches docs where f is null or missing).
    "$eq": lambda c, v: c.eqNullSafe(F.lit(v)),
    # negation is null-safe: {$ne: 5} MATCHES a null field, {$ne: null} not.
    "$ne": lambda c, v: ~c.eqNullSafe(F.lit(v)),
    "$gt": lambda c, v: c > F.lit(v),
    "$gte": lambda c, v: c >= F.lit(v),
    "$lt": lambda c, v: c < F.lit(v),
    "$lte": lambda c, v: c <= F.lit(v),
    "$in": _in,
    "$nin": lambda c, v: ~_in(c, v),
    "$exists": lambda c, v: c.isNotNull() if v else c.isNull(),
    "$regex": lambda c, v: c.rlike(v),
}


def _field(path: str) -> Column:
    # Dotted paths navigate nested structs, like Mongo's document paths.
    return F.col(path)


def _compile_field_cond(path: str, spec) -> Column:
    if isinstance(spec, dict) and any(k.startswith("$") for k in spec):
        cond = None
        for op, val in spec.items():
            if op == "$not":
                # Mongo $not matches when the operand does NOT match,
                # including missing fields — null-safe negation.
                sub = ~F.coalesce(_compile_field_cond(path, val), F.lit(False))
            elif op in _CMP:
                sub = _CMP[op](_field(path), val)
            else:
                raise ValueError(f"unsupported $match operator {op!r} on {path!r}")
            cond = sub if cond is None else (cond & sub)
        return cond
    # implicit equality; null literal matches missing/null, as Mongo does
    return _CMP["$eq"](_field(path), spec)


def compile_match(doc: dict) -> Column:
    """One `$match` document → one Column predicate (AND of its entries)."""
    cond = None
    for key, spec in doc.items():
        if key == "$expr":
            # aggregation expression as a predicate; Mongo truthiness
            sub = _truthy(_compile_value(spec))
        elif key in ("$and", "$or", "$nor"):
            subs = [compile_match(d) for d in spec]
            if key == "$and":
                sub = subs[0]
                for s in subs[1:]:
                    sub = sub & s
            else:
                sub = subs[0]
                for s in subs[1:]:
                    sub = sub | s
                if key == "$nor":
                    # matches documents that FAIL every clause, null included
                    sub = ~F.coalesce(sub, F.lit(False))
        elif key.startswith("$"):
            raise ValueError(f"unsupported $match combinator {key!r}")
        else:
            sub = _compile_field_cond(key, spec)
        cond = sub if cond is None else (cond & sub)
    return cond if cond is not None else F.lit(True)


def _compile_value(spec) -> Column:
    """A Mongo aggregation-expression → Column (used by `$addFields`,
    computed `$project` fields, `$group` accumulator arguments, and
    `$match`'s `$expr`).

    `"$path"` is a field reference; any other scalar is a literal; a list
    is an array literal (refs allowed inside); a dict without $-operators
    is an embedded document → struct; a single-key `{"$op": args}` dict is
    an operator expression compiled via `_EXPR_OPS` — every operator maps
    to a built-in Catalyst function, nothing runs per row in Python.
    `{"$literal": v}` escapes a value from expression interpretation."""
    if isinstance(spec, str) and spec.startswith("$$"):
        return _lambda_var(spec)
    if isinstance(spec, str) and spec.startswith("$"):
        return _field(spec[1:])
    if isinstance(spec, list):
        return F.array(*[_compile_value(v) for v in spec])
    if isinstance(spec, dict):
        dollar = [k for k in spec if k.startswith("$")]
        if not dollar:
            return F.struct(*[_compile_value(v).alias(k) for k, v in spec.items()])
        if len(spec) != 1:
            raise ValueError(
                f"expression must be a single-operator document, got {sorted(spec)!r}"
            )
        (op, arg), = spec.items()
        if op == "$literal":
            return F.lit(arg)
        fn = _EXPR_OPS.get(op)
        if fn is None:
            raise ValueError(f"unsupported aggregation expression operator {op!r}")
        return fn(arg)
    return F.lit(spec)


# Lambda-variable scopes for `$let` / `$map` / `$filter` / `$reduce`
# (`"$$x"` references). Compilation is driver-side and single-threaded, and
# PySpark invokes higher-order-function lambdas synchronously while BUILDING
# the expression tree, so a plain stack is correct: push a scope, compile
# the body (which resolves `$$name` against the innermost scope holding it),
# pop. Nothing here runs per row — the bound Column is Catalyst's own
# lambda variable, and the whole expression stays JVM-side.
_VAR_ENV: list[dict[str, Column]] = []


def _lambda_var(ref: str) -> Column:
    """`"$$name"` or `"$$name.sub.field"` → the bound lambda variable,
    optionally descending into struct fields."""
    parts = ref[2:].split(".")
    name, fields = parts[0], parts[1:]
    for scope in reversed(_VAR_ENV):
        if name in scope:
            col = scope[name]
            for f in fields:
                col = col.getField(f)
            return col
    raise ValueError(
        f"unbound variable {ref!r} (no enclosing $let/$map/$filter/$reduce "
        f"binds {name!r})"
    )


def _in_scope(bindings: dict[str, Column], spec) -> Column:
    _VAR_ENV.append(bindings)
    try:
        return _compile_value(spec)
    finally:
        _VAR_ENV.pop()


def _expr_let(arg) -> Column:
    if not (isinstance(arg, dict) and "in" in arg):
        raise ValueError("$let takes {vars, in}")
    bound = {k: _compile_value(v) for k, v in (arg.get("vars") or {}).items()}
    return _in_scope(bound, arg["in"])


def _expr_map(arg) -> Column:
    if not (isinstance(arg, dict) and "input" in arg and "in" in arg):
        raise ValueError("$map takes {input, as?, in}")
    as_ = str(arg.get("as", "this"))
    return F.transform(
        _compile_value(arg["input"]),
        lambda x: _in_scope({as_: x}, arg["in"]),
    )


def _expr_filter(arg) -> Column:
    if not (isinstance(arg, dict) and "input" in arg and "cond" in arg):
        raise ValueError("$filter takes {input, as?, cond, limit?}")
    as_ = str(arg.get("as", "this"))
    out = F.filter(
        _compile_value(arg["input"]),
        lambda x: _truthy(_in_scope({as_: x}, arg["cond"])),
    )
    if "limit" in arg:
        out = F.slice(out, 1, int(arg["limit"]))
    return out


def _expr_reduce(arg) -> Column:
    """`$reduce` → F.aggregate: `$$value` is the accumulator, `$$this` the
    element. Typed-column caveat (vs Mongo's dynamic docs): the `in`
    expression must keep the accumulator's type equal to `initialValue`'s
    — Catalyst checks it at plan time."""
    if not (isinstance(arg, dict) and "input" in arg and "in" in arg):
        raise ValueError("$reduce takes {input, initialValue, in}")
    init = arg.get("initialValue")
    if isinstance(init, int) and not isinstance(init, bool):
        # a bare int literal would compile to INT, and Catalyst requires the
        # accumulator type to EQUAL the merge lambda's result type — widen to
        # bigint so `{"initialValue": 0}` works over integer arrays; for a
        # double accumulator write {"$toDouble": 0}.
        zero = F.lit(init).cast("bigint")
    else:
        zero = _compile_value(init)
    return F.aggregate(
        _compile_value(arg["input"]),
        zero,
        lambda acc, x: _in_scope({"value": acc, "this": x}, arg["in"]),
    )


# Mongo $dateToString format specifiers → Spark date_format pattern letters
_DATE_FMT = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
    "%S": "ss", "%L": "SSS", "%j": "DDD", "%%": "%",
}


def _expr_date_to_string(arg) -> Column:
    if not (isinstance(arg, dict) and "date" in arg):
        raise ValueError("$dateToString takes {date, format?}")
    fmt = arg.get("format", "%Y-%m-%dT%H:%M:%S.%LZ")
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            spec = fmt[i:i + 2]
            if spec not in _DATE_FMT:
                raise ValueError(f"unsupported $dateToString specifier {spec!r}")
            out.append(_DATE_FMT[spec])
            i += 2
        else:
            # literal run — always quoted, so pattern letters stay literal
            j = i
            while j < len(fmt) and fmt[j] != "%":
                j += 1
            out.append("'" + fmt[i:j].replace("'", "''") + "'")
            i = j
    return F.date_format(_compile_value(arg["date"]), "".join(out))


_DATE_UNITS = ("year", "quarter", "month", "day", "hour", "minute", "second")


def _date_unit(arg: dict, op: str) -> str:
    unit = arg.get("unit")
    if unit not in _DATE_UNITS:
        raise ValueError(
            f"{op} unit must be one of {_DATE_UNITS} (week needs startOfWeek "
            f"semantics Mongo defaults to Sunday and Spark to Monday — "
            f"unsupported), got {unit!r}"
        )
    return str(unit)


def _expr_date_trunc(arg) -> Column:
    if not (isinstance(arg, dict) and "date" in arg):
        raise ValueError("$dateTrunc takes {date, unit}")
    if "binSize" in arg or "timezone" in arg:
        raise ValueError("$dateTrunc binSize/timezone are not supported")
    return F.date_trunc(_date_unit(arg, "$dateTrunc"), _compile_value(arg["date"]))


def _expr_date_add(arg) -> Column:
    if not (isinstance(arg, dict) and "startDate" in arg and "amount" in arg):
        raise ValueError("$dateAdd takes {startDate, unit, amount}")
    return F.timestamp_add(
        _date_unit(arg, "$dateAdd").upper(),
        _compile_value(arg["amount"]),
        _compile_value(arg["startDate"]),
    )


def _expr_date_diff(arg) -> Column:
    """Mongo `$dateDiff` counts UNIT-BOUNDARY CROSSINGS (23:59→00:01 is one
    day), not elapsed full units — so both endpoints are truncated to the
    unit before the typed diff."""
    if not (isinstance(arg, dict) and "startDate" in arg and "endDate" in arg):
        raise ValueError("$dateDiff takes {startDate, endDate, unit}")
    unit = _date_unit(arg, "$dateDiff")
    s = F.date_trunc(unit, _compile_value(arg["startDate"]))
    e = F.date_trunc(unit, _compile_value(arg["endDate"]))
    return F.timestamp_diff(unit.upper(), s, e)


def _nargs(op: str, arg, n: int) -> list[Column]:
    vals = arg if isinstance(arg, list) else [arg]
    if len(vals) != n:
        raise ValueError(f"{op} takes exactly {n} argument(s), got {len(vals)}")
    return [_compile_value(v) for v in vals]


def _varargs(arg) -> list[Column]:
    vals = arg if isinstance(arg, list) else [arg]
    return [_compile_value(v) for v in vals]


def _reduce(cols: list[Column], f) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = f(out, c)
    return out


def _expr_range(arg) -> Column:
    """Mongo `$range` is HALF-OPEN with a non-zero step; Spark `sequence`
    is inclusive and rejects inconsistent bounds — so stop one step-sign
    short of `end`, and guard the empty case (CaseWhen evaluates only the
    selected branch, so the invalid-bounds sequence never runs)."""
    vals = _varargs(arg)
    if len(vals) == 2:
        s, e, st = vals[0], vals[1], F.lit(1)
    elif len(vals) == 3:
        s, e, st = vals
    else:
        raise ValueError("$range takes [start, end, step?]")
    nonempty = ((st > 0) & (e > s)) | ((st < 0) & (e < s))
    stop = e - F.when(st > 0, 1).otherwise(-1)
    empty = F.slice(F.sequence(s, s), 1, 0)  # [] of the element type
    return F.when(nonempty, F.sequence(s, stop, st)).otherwise(empty)


def _expr_regex_match(arg) -> Column:
    """Mongo PCRE vs Spark Java regex: the common subset (classes, anchors,
    quantifiers, i/m/s/x flags as embedded `(?…)`) behaves identically;
    the pattern must be a literal so the divergent corners fail at compile
    time, not per row."""
    if not (isinstance(arg, dict) and "input" in arg and "regex" in arg):
        raise ValueError("$regexMatch takes {input, regex, options?}")
    pat = arg["regex"]
    if not isinstance(pat, str):
        raise ValueError("$regexMatch regex must be a literal string")
    opts = str(arg.get("options", ""))
    if any(o not in "imsx" for o in opts):
        raise ValueError(f"$regexMatch options {opts!r}: only i/m/s/x supported")
    if opts:
        pat = f"(?{opts})" + pat
    return F.regexp_like(_compile_value(arg["input"]), F.lit(pat))


def _expr_cond(arg) -> Column:
    if isinstance(arg, dict):
        branches = (arg["if"], arg["then"], arg["else"])
    else:
        if not (isinstance(arg, list) and len(arg) == 3):
            raise ValueError("$cond takes {if,then,else} or a 3-element array")
        branches = tuple(arg)
    c, t, e = (_compile_value(v) for v in branches)
    return F.when(_truthy(c), t).otherwise(e)


def _expr_switch(arg) -> Column:
    branches = arg.get("branches") or []
    if not branches:
        raise ValueError("$switch requires at least one branch")
    out = None
    for b in branches:
        cond, then = _truthy(_compile_value(b["case"])), _compile_value(b["then"])
        out = F.when(cond, then) if out is None else out.when(cond, then)
    if "default" in arg:
        out = out.otherwise(_compile_value(arg["default"]))
    return out


def _truthy(c: Column) -> Column:
    # Mongo condition truthiness: null/missing/false/0 are falsy. Implemented
    # as a boolean cast with null → false, which matches Mongo for boolean
    # and numeric operands (the realistic $cond/$expr inputs). Known edge:
    # Mongo treats ANY string (even "") as truthy; a string operand here
    # casts to null → false unless it spells a boolean. Use comparisons,
    # not bare strings, as conditions.
    return F.coalesce(c.cast("boolean"), F.lit(False))


def _expr_substr_cp(arg) -> Column:
    s, start, ln = _nargs("$substrCP", arg, 3)
    return s.substr(start.cast("int") + 1, ln.cast("int"))  # Mongo is 0-based


def _expr_split(arg) -> Column:
    import re as _re

    if not (isinstance(arg, list) and len(arg) == 2 and isinstance(arg[1], str)):
        raise ValueError("$split takes [string-expr, literal delimiter]")
    # Mongo splits on a LITERAL delimiter; F.split takes a regex → escape
    return F.split(_compile_value(arg[0]), _re.escape(arg[1]))


def _expr_trim(arg) -> Column:
    s = _compile_value(arg["input"] if isinstance(arg, dict) else arg)
    chars = arg.get("chars") if isinstance(arg, dict) else None
    return F.btrim(s, _compile_value(chars)) if chars is not None else F.trim(s)


def _expr_replace_all(arg) -> Column:
    return F.replace(  # literal find/replace, same as Mongo (not regex)
        _compile_value(arg["input"]),
        _compile_value(arg["find"]),
        _compile_value(arg["replacement"]),
    )


def _expr_array_elem_at(arg) -> Column:
    if not (isinstance(arg, list) and len(arg) == 2):
        raise ValueError("$arrayElemAt takes [array, idx]")
    arr = _compile_value(arg[0])
    idx = arg[1]
    if isinstance(idx, int):  # Mongo 0-based; negative counts from the end
        return F.element_at(arr, idx + 1 if idx >= 0 else idx)
    i = _compile_value(idx).cast("int")
    return F.element_at(arr, F.when(i >= 0, i + 1).otherwise(i))


def _expr_slice(arg) -> Column:
    if not (isinstance(arg, list) and len(arg) in (2, 3)):
        raise ValueError("$slice takes [array, n] or [array, position, n]")
    arr = _compile_value(arg[0])
    if len(arg) == 2:
        if not isinstance(arg[1], int):
            raise ValueError("$slice n must be a literal integer")
        n = arg[1]
        # Mongo: n>0 → first n, n<0 → last n
        return F.slice(arr, 1, n) if n >= 0 else F.slice(arr, n, -n)
    pos, n = arg[1], arg[2]
    if not (isinstance(pos, int) and isinstance(n, int) and n > 0):
        raise ValueError("$slice [array, position, n] needs literal ints, n > 0")
    return F.slice(arr, pos + 1 if pos >= 0 else pos, n)


_EXPR_OPS: dict[str, Callable[..., Column]] = {
    # arithmetic — Spark's operators share Mongo's null-propagation, and
    # int/int $divide is double in both engines
    "$add": lambda a: _reduce(_varargs(a), lambda x, y: x + y),
    "$subtract": lambda a: _reduce(_nargs("$subtract", a, 2), lambda x, y: x - y),
    "$multiply": lambda a: _reduce(_varargs(a), lambda x, y: x * y),
    "$divide": lambda a: _reduce(_nargs("$divide", a, 2), lambda x, y: x / y),
    # Mongo $mod keeps the dividend's sign — Spark's % does too
    "$mod": lambda a: _reduce(_nargs("$mod", a, 2), lambda x, y: x % y),
    "$abs": lambda a: F.abs(_nargs("$abs", a, 1)[0]),
    "$ceil": lambda a: F.ceil(_nargs("$ceil", a, 1)[0]),
    "$floor": lambda a: F.floor(_nargs("$floor", a, 1)[0]),
    "$round": lambda a: (
        F.round(_compile_value(a[0]), int(a[1]))
        if isinstance(a, list) and len(a) == 2
        else F.round(_nargs("$round", a, 1)[0], 0)
    ),
    "$trunc": lambda a: (lambda c: F.when(c >= 0, F.floor(c)).otherwise(F.ceil(c)))(_nargs("$trunc", a, 1)[0]),
    "$sqrt": lambda a: F.sqrt(_nargs("$sqrt", a, 1)[0]),
    "$pow": lambda a: F.pow(*_nargs("$pow", a, 2)),
    "$exp": lambda a: F.exp(_nargs("$exp", a, 1)[0]),
    "$ln": lambda a: F.log(_nargs("$ln", a, 1)[0]),
    "$log10": lambda a: F.log10(_nargs("$log10", a, 1)[0]),
    # strings
    "$concat": lambda a: F.concat(*_varargs(a)),
    "$toLower": lambda a: F.lower(_nargs("$toLower", a, 1)[0]),
    "$toUpper": lambda a: F.upper(_nargs("$toUpper", a, 1)[0]),
    "$strLenCP": lambda a: F.length(_nargs("$strLenCP", a, 1)[0]),
    "$substrCP": _expr_substr_cp,
    "$split": _expr_split,
    "$trim": _expr_trim,
    "$replaceAll": _expr_replace_all,
    "$toString": lambda a: _nargs("$toString", a, 1)[0].cast("string"),
    # comparison (expression form: 2-element arrays, boolean result)
    "$eq": lambda a: (lambda x, y: x.eqNullSafe(y))(*_nargs("$eq", a, 2)),
    "$ne": lambda a: (lambda x, y: ~x.eqNullSafe(y))(*_nargs("$ne", a, 2)),
    "$gt": lambda a: (lambda x, y: x > y)(*_nargs("$gt", a, 2)),
    "$gte": lambda a: (lambda x, y: x >= y)(*_nargs("$gte", a, 2)),
    "$lt": lambda a: (lambda x, y: x < y)(*_nargs("$lt", a, 2)),
    "$lte": lambda a: (lambda x, y: x <= y)(*_nargs("$lte", a, 2)),
    "$cmp": lambda a: (lambda x, y: F.when(x < y, -1).when(x > y, 1).otherwise(0))(*_nargs("$cmp", a, 2)),
    # boolean (Mongo truthiness: null/0/false are falsy)
    "$and": lambda a: _reduce([_truthy(c) for c in _varargs(a)], lambda x, y: x & y),
    "$or": lambda a: _reduce([_truthy(c) for c in _varargs(a)], lambda x, y: x | y),
    "$not": lambda a: ~_truthy(_nargs("$not", a, 1)[0]),
    # conditionals
    "$cond": _expr_cond,
    "$ifNull": lambda a: F.coalesce(*_varargs(a)),
    "$switch": _expr_switch,
    # type conversion
    "$toInt": lambda a: _nargs("$toInt", a, 1)[0].cast("int"),
    "$toLong": lambda a: _nargs("$toLong", a, 1)[0].cast("long"),
    "$toDouble": lambda a: _nargs("$toDouble", a, 1)[0].cast("double"),
    "$toBool": lambda a: _nargs("$toBool", a, 1)[0].cast("boolean"),
    # arrays
    "$size": lambda a: F.size(_nargs("$size", a, 1)[0]),
    "$arrayElemAt": _expr_array_elem_at,
    "$concatArrays": lambda a: F.concat(*_varargs(a)),
    "$in": lambda a: (lambda e, arr: F.array_contains(arr, e))(*_nargs("$in", a, 2)),
    "$slice": _expr_slice,
    "$reverseArray": lambda a: F.reverse(_nargs("$reverseArray", a, 1)[0]),
    # $indexOfArray: Mongo returns -1 when absent, array_position returns
    # 0 (and is 1-based), so shift and map 0 → -1
    "$indexOfArray": lambda a: (
        lambda arr, e: F.array_position(arr, e).cast("int") - 1
    )(*_nargs("$indexOfArray", a, 2)),
    "$range": _expr_range,
    # set operators (Mongo treats arrays as sets here: dedup, order
    # unspecified — we sort for determinism, documented divergence)
    "$setUnion": lambda a: F.array_sort(
        F.array_distinct(_reduce(_varargs(a), F.array_union))
    ),
    "$setIntersection": lambda a: F.array_sort(
        _reduce(_varargs(a), F.array_intersect)
    ),
    "$setDifference": lambda a: F.array_sort(
        (lambda x, y: F.array_except(x, y))(*_nargs("$setDifference", a, 2))
    ),
    "$setIsSubset": lambda a: (
        lambda x, y: F.size(F.array_except(x, y)) == 0
    )(*_nargs("$setIsSubset", a, 2)),
    "$regexMatch": _expr_regex_match,
    # variable binding + array higher-order functions — Catalyst lambda
    # expressions (transform/filter/aggregate), fully JVM-side
    "$let": _expr_let,
    "$map": _expr_map,
    "$filter": _expr_filter,
    "$reduce": _expr_reduce,
    # dates ($dayOfWeek: both engines say 1 = Sunday)
    "$dateTrunc": _expr_date_trunc,
    "$dateAdd": _expr_date_add,
    "$dateDiff": _expr_date_diff,
    "$dateToString": _expr_date_to_string,
    "$toDate": lambda a: _nargs("$toDate", a, 1)[0].cast("timestamp"),
    "$year": lambda a: F.year(_nargs("$year", a, 1)[0]),
    "$month": lambda a: F.month(_nargs("$month", a, 1)[0]),
    "$dayOfMonth": lambda a: F.dayofmonth(_nargs("$dayOfMonth", a, 1)[0]),
    "$hour": lambda a: F.hour(_nargs("$hour", a, 1)[0]),
    "$minute": lambda a: F.minute(_nargs("$minute", a, 1)[0]),
    "$second": lambda a: F.second(_nargs("$second", a, 1)[0]),
    "$dayOfWeek": lambda a: F.dayofweek(_nargs("$dayOfWeek", a, 1)[0]),
}


def _add_field(df: DataFrame, target: str, col: Column) -> DataFrame:
    if "." not in target:
        return df.withColumn(target, col)
    root, rest = target.split(".", 1)
    if root not in df.columns:
        raise ValueError(
            f"$addFields dotted target {target!r}: no struct column {root!r}"
        )
    return df.withColumn(root, F.col(root).withField(rest, col))


def _stage_match(df: DataFrame, doc: dict) -> DataFrame:
    return df.filter(compile_match(doc))


def _stage_add_fields(df: DataFrame, doc: dict) -> DataFrame:
    for target, spec in doc.items():
        df = _add_field(df, target, _compile_value(spec))
    return df


def _stage_unset(df: DataFrame, spec) -> DataFrame:
    names = [spec] if isinstance(spec, str) else list(spec)
    return df.drop(*names)


def _stage_project(df: DataFrame, doc: dict) -> DataFrame:
    includes = [k for k, v in doc.items() if v in (1, True)]
    excludes = [k for k, v in doc.items() if v in (0, False)]
    computed = {k: v for k, v in doc.items()
                if not (isinstance(v, bool) or v in (0, 1))}
    if (includes or computed) and excludes:
        raise ValueError("$project cannot mix inclusion and exclusion")
    if includes or computed:
        # Mongo: inclusion projection with computed fields (expressions)
        cols = [F.col(k) for k in includes]
        cols += [_compile_value(v).alias(k) for k, v in computed.items()]
        return df.select(*cols)
    return df.drop(*excludes)


_ACCUM = {
    # $sum with the literal 1 is Mongo's document counter
    "$sum": lambda v: F.count(F.lit(1)) if v == 1 else F.sum(_compile_value(v)),
    "$avg": lambda v: F.avg(_compile_value(v)),
    "$min": lambda v: F.min(_compile_value(v)),
    "$max": lambda v: F.max(_compile_value(v)),
    "$count": lambda v: F.count(F.lit(1)),
    "$push": lambda v: F.collect_list(_compile_value(v)),
    "$addToSet": lambda v: F.collect_set(_compile_value(v)),
    # order-undefined without a preceding $sort — same caveat as Mongo
    "$first": lambda v: F.first(_compile_value(v)),
    "$last": lambda v: F.last(_compile_value(v)),
    "$stdDevPop": lambda v: F.stddev_pop(_compile_value(v)),
    "$stdDevSamp": lambda v: F.stddev_samp(_compile_value(v)),
    "$median": lambda v: F.median(_compile_value(v)),
}


def _stage_group(df: DataFrame, doc: dict) -> DataFrame:
    """Mongo `$group` → hash aggregate. `_id` may be null (global group),
    a `"$path"` reference, or a document of references (→ struct `_id`).
    Declarative groupBy/agg, so Spark applies map-side partial aggregation
    — the scalable shape for the user-injected `$group` the reference
    forwards to the server (README.md:89-94)."""
    doc = dict(doc)
    if "_id" not in doc:
        raise ValueError("$group requires an _id")
    gid = doc.pop("_id")
    aggs = []
    for name, spec in doc.items():
        if not (isinstance(spec, dict) and len(spec) == 1):
            raise ValueError(f"$group accumulator {name!r} must be a single-op doc")
        (op, val), = spec.items()
        if op not in _ACCUM:
            raise ValueError(f"unsupported $group accumulator {op!r}")
        aggs.append(_ACCUM[op](val).alias(name))
    if gid is None:
        out = df.groupBy().agg(*(aggs or [F.count(F.lit(1)).alias("_n")]))
        return out.select(F.lit(None).alias("_id"), *doc.keys())
    if isinstance(gid, str) and gid.startswith("$"):
        return df.groupBy(_field(gid[1:]).alias("_id")).agg(*aggs)
    if isinstance(gid, dict):
        keys = [(k, _compile_value(v)) for k, v in gid.items()]
        grouped = df.groupBy(*[c.alias(f"_gk_{k}") for k, c in keys])
        out = grouped.agg(*aggs)
        return out.select(
            F.struct(*[F.col(f"_gk_{k}").alias(k) for k, _ in keys]).alias("_id"),
            *doc.keys(),
        )
    # constant _id: every document in one group, like _id: null
    return df.groupBy(F.lit(gid).alias("_id")).agg(*aggs)


def _stage_unwind(df: DataFrame, spec) -> DataFrame:
    """Mongo `$unwind`: one output document per array element.

    Default drops documents whose path is null or an empty array;
    `preserveNullAndEmptyArrays` keeps them (element null, index null) —
    both via posexplode/posexplode_outer, a codegen'd generator, no
    shuffle. A non-array column passes through as the single-element case
    (Mongo treats non-array values as one-element arrays); top-level paths
    only, as the typed-column analog of Mongo's dynamic documents."""
    from pyspark.sql.types import ArrayType

    if isinstance(spec, str):
        spec = {"path": spec}
    path = spec.get("path", "")
    if not (isinstance(path, str) and path.startswith("$")):
        raise ValueError(f"$unwind path must be a '$field' reference, got {path!r}")
    col = path[1:]
    if "." in col or col not in df.columns:
        raise ValueError(f"$unwind supports top-level array columns, got {col!r}")
    preserve = bool(spec.get("preserveNullAndEmptyArrays", False))
    idx_name = spec.get("includeArrayIndex")
    if not isinstance(df.schema[col].dataType, ArrayType):
        # Mongo: non-array value unwinds to itself; missing/null drops
        # unless preserved. Array index is null for non-arrays.
        if not preserve:
            df = df.filter(F.col(col).isNotNull())
        if idx_name:
            df = df.withColumn(str(idx_name), F.lit(None).cast("long"))
        return df
    gen = F.posexplode_outer(F.col(col)) if preserve else F.posexplode(F.col(col))
    others = [c for c in df.columns if c != col]
    out = df.select(*others, gen.alias("_unwind_pos", col))
    if idx_name:
        out = out.withColumn(str(idx_name), F.col("_unwind_pos").cast("long"))
    return out.drop("_unwind_pos")


def _stage_lookup(df: DataFrame, spec: dict, tables: dict[str, DataFrame]) -> DataFrame:
    """Mongo `$lookup` (equality form): `as` becomes an array of ALL
    matching foreign documents ([] when none — Mongo never emits null
    here). Compiled as collect_list-of-struct per foreign key + a
    null-safe equi join (Mongo matches null localField to null
    foreignField). The gathered side is one row per distinct foreign key,
    so Catalyst broadcasts it for dimension-sized collections and shuffle-
    hash/sort-merge joins on the key otherwise — no driver collect, no
    per-row Python. Sub-pipeline ($let/$expr) form unsupported."""
    missing = [k for k in ("from", "localField", "foreignField", "as") if k not in spec]
    if missing:
        raise ValueError(f"$lookup requires {missing} (equality form)")
    name = spec["from"]
    if name not in tables:
        raise ValueError(
            f"$lookup from {name!r}: pass the collection as a DataFrame via "
            f"compile_pipeline(..., tables={{'{name}': df}})"
        )
    foreign = tables[name]
    lf, ff, as_ = spec["localField"], spec["foreignField"], spec["as"]
    gathered = foreign.groupBy(F.col(ff).alias("_lk_key")).agg(
        F.collect_list(F.struct(*[F.col(c) for c in foreign.columns])).alias(as_)
    )
    out = df.join(gathered, F.col(lf).eqNullSafe(F.col("_lk_key")), "left").drop(
        "_lk_key"
    )
    empty = F.array().cast(gathered.schema[as_].dataType)
    return out.withColumn(as_, F.coalesce(F.col(as_), empty))


def _stage_replace_root(df: DataFrame, spec) -> DataFrame:
    """`$replaceRoot: {newRoot: "$struct"}` (alias `$replaceWith`):
    promote an embedded document to the root — `select(struct.*)`."""
    from pyspark.sql.types import StructType

    new_root = spec.get("newRoot") if isinstance(spec, dict) else spec
    if not (isinstance(new_root, str) and new_root.startswith("$")):
        raise ValueError(f"$replaceRoot newRoot must be a '$field' reference, got {new_root!r}")
    col = new_root[1:]
    inner = df.select(_field(col).alias("_root")).schema["_root"].dataType
    if not isinstance(inner, StructType):
        raise ValueError(f"$replaceRoot newRoot {col!r} is not a document (struct)")
    return df.select(f"{col}.*")


def _stage_sort_by_count(df: DataFrame, spec) -> DataFrame:
    """`$sortByCount: "$field"` = $group by the expression with a count,
    then count-descending sort — Mongo's exact desugaring."""
    if not (isinstance(spec, str) and spec.startswith("$")):
        raise ValueError(f"$sortByCount takes a '$field' reference, got {spec!r}")
    return (
        df.groupBy(_field(spec[1:]).alias("_id"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc())
    )


def _stage_bucket(df: DataFrame, spec: dict) -> DataFrame:
    """Mongo `$bucket`: group values into user-defined boundary ranges.

    `_id` is the lower boundary of the containing half-open range
    [b_i, b_{i+1}); out-of-range values take `default` when given, else the
    row raises at execution (Mongo errors the aggregation the same way).
    One CASE projection + hash aggregate — map-side combinable, no sort.
    Typed-column divergence from Mongo's dynamic docs: when `default` is a
    string but boundaries are numeric, every `_id` is emitted as string so
    the column stays single-typed."""
    gb = spec.get("groupBy")
    bounds = spec.get("boundaries")
    if not isinstance(bounds, list) or len(bounds) < 2:
        raise ValueError("$bucket requires >=2 boundaries")
    if bounds != sorted(bounds):
        raise ValueError("$bucket boundaries must be sorted ascending")
    v = _compile_value(gb)
    has_default = "default" in spec
    stringify = has_default and isinstance(spec["default"], str) and not all(
        isinstance(b, str) for b in bounds
    )

    def _id_lit(x):
        c = F.lit(x)
        return c.cast("string") if stringify else c

    bid = None
    for lo, hi in zip(bounds, bounds[1:]):
        cond = (v >= F.lit(lo)) & (v < F.lit(hi))
        bid = F.when(cond, _id_lit(lo)) if bid is None else bid.when(cond, _id_lit(lo))
    if has_default:
        bid = bid.otherwise(_id_lit(spec["default"]))
    else:
        bid = bid.otherwise(
            F.raise_error(
                F.lit("$bucket: value out of boundaries and no default specified")
            ).cast("string" if stringify else "double")
        )
    output = spec.get("output") or {"count": {"$sum": 1}}
    aggs = []
    for name, acc in output.items():
        (op, val), = acc.items()
        if op not in _ACCUM:
            raise ValueError(f"unsupported $bucket accumulator {op!r}")
        aggs.append(_ACCUM[op](val).alias(name))
    return df.groupBy(bid.alias("_id")).agg(*aggs)


def _stage_bucket_auto(df: DataFrame, spec: dict) -> DataFrame:
    """Mongo `$bucketAuto`: split documents into `buckets` groups of
    approximately equal COUNT by the groupBy value, boundaries derived from
    the data itself.

    Deterministic, tie-safe semantics (mirrored bit-exactly by the DuckDB
    oracle): equal groupBy values always share a bucket — the bucket of a
    distinct value v is `(count_of_smaller_values * N) DIV total`, integer
    arithmetic over the distinct values in ascending order (nulls first, as
    BSON sorts null below numbers). `_id` is the struct {min, max}: min =
    the bucket's lowest value, max = the NEXT bucket's lowest value
    (half-open), except the last bucket whose max is the global maximum,
    inclusive — Mongo's boundary convention. Fewer distinct values than
    `buckets` yields fewer buckets, as in Mongo. `granularity` (the
    preferred-number rounding series) is unsupported and raises.

    Scale shape: a map-side-combinable hash aggregate over DISTINCT values;
    ONE single-partition window over those distinct values only (bounded by
    cardinality, never row count — Mongo's own $bucketAuto pays a full
    SORT of every document for the same order statistic); the value→bucket
    map equi-joins back onto the rows (AQE picks broadcast when the
    distinct set is small); then the usual accumulator hash aggregate and a
    broadcast of the ≤N boundary rows."""
    from pyspark.sql import Window

    gb = spec.get("groupBy")
    n = spec.get("buckets")
    if not isinstance(n, int) or isinstance(n, bool) or n < 1:
        raise ValueError(f"$bucketAuto requires a positive integer 'buckets', got {n!r}")
    if "granularity" in spec:
        raise ValueError("$bucketAuto granularity is not supported")
    v = _compile_value(gb)

    counts = df.select(v.alias("_ba_val")).groupBy("_ba_val").agg(
        F.count(F.lit(1)).alias("_ba_cnt")
    )
    w_cum = Window.orderBy(F.asc_nulls_first("_ba_val")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(F.asc_nulls_first("_ba_val")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # two-step: window columns first, then the integer bucket formula
    mapped = (
        counts.select(
            "_ba_val",
            F.coalesce(F.sum("_ba_cnt").over(w_cum), F.lit(0)).alias("_ba_before"),
            F.sum("_ba_cnt").over(w_all).alias("_ba_total"),
        )
        .select(
            "_ba_val",
            F.expr(
                f"CAST(least((_ba_before * {n}) DIV _ba_total, {n - 1}) AS INT)"
            ).alias("_ba_bucket"),
        )
    )

    w_b = Window.orderBy("_ba_bucket")
    bounds = (
        mapped.groupBy("_ba_bucket")
        .agg(F.min("_ba_val").alias("min"), F.max("_ba_val").alias("max"))
        .select(
            "_ba_bucket",
            F.col("min"),
            # half-open upper bound = next bucket's min; last bucket closes
            # at its own (= the global) max, inclusive
            F.coalesce(F.lead("min").over(w_b), F.col("max")).alias("max"),
        )
    )

    output = spec.get("output") or {"count": {"$sum": 1}}
    aggs = []
    for name, acc in output.items():
        if not (isinstance(acc, dict) and len(acc) == 1):
            raise ValueError(f"$bucketAuto accumulator {name!r} must be a single-op doc")
        (op, val), = acc.items()
        if op not in _ACCUM:
            raise ValueError(f"unsupported $bucketAuto accumulator {op!r}")
        aggs.append(_ACCUM[op](val).alias(name))

    rows = (
        df.withColumn("_ba_val", v)
        .join(
            mapped.withColumnRenamed("_ba_val", "_ba_val_m"),
            F.col("_ba_val").eqNullSafe(F.col("_ba_val_m")),
            "inner",
        )
        .drop("_ba_val", "_ba_val_m")
    )
    agged = rows.groupBy("_ba_bucket").agg(*aggs)
    # struct field names equal their source column names (min/max) — a
    # differing alias trips Spark 4.1 nested-column pruning (key-not-found)
    return (
        agged.join(F.broadcast(bounds), "_ba_bucket")
        .select(F.struct("min", "max").alias("_id"), *output.keys())
        .orderBy("_id.min")
    )


def _stage_facet(df: DataFrame, spec: dict, tables: dict) -> DataFrame:
    """Mongo `$facet`: run N sub-pipelines over the SAME input, emit ONE
    document whose fields are each facet's full result as an array.

    Spark shape: each facet compiles to its own plan over `df` (the scan is
    shared by Spark's plan reuse when facets start from the same source),
    collapses to a single row via collect_list(struct(...)), and the 1-row
    facets cross-join into the output document. Facet results must be
    driver-bounded — Mongo enforces the same via its 16 MB output-document
    cap, so a pipeline valid there is valid here."""
    if not spec or not isinstance(spec, dict):
        raise ValueError("$facet requires a non-empty document of sub-pipelines")
    out = None
    for name, sub in spec.items():
        if not isinstance(sub, list):
            raise ValueError(f"$facet field {name!r} must be a pipeline array")
        res = df
        for fn, s in _compile_stage_list(sub, tables):
            res = fn(res, s)
        one = res.agg(
            F.collect_list(F.struct(*[F.col(c) for c in res.columns])).alias(name)
        )
        out = one if out is None else out.crossJoin(one)
    return out


def _stage_set_window_fields(df: DataFrame, spec: dict) -> DataFrame:
    """Mongo `$setWindowFields` → Catalyst Window functions.

    Supported: `partitionBy` ("$field" or absent = one global partition),
    `sortBy` ({field: 1|-1}), and `output` operators `$sum $avg $min $max
    $count $first $last` (with optional `window.documents` ROWS frame),
    `$rank`, `$denseRank`, `$documentNumber`, and `$shift`
    (by>0 = lead, by<0 = lag, with `default`). Mongo's default window when
    none is given is the whole partition (["unbounded","unbounded"]) —
    replicated here; positional operators require `sortBy`, as in Mongo.

    Scale shape: ONE Window spec per distinct (partition, order, frame)
    triple — Spark evaluates same-spec window functions in a single pass
    after one hash shuffle on the partition key; no Python, no extra jobs.
    """
    from pyspark.sql import Window

    if not isinstance(spec, dict) or "output" not in spec:
        raise ValueError("$setWindowFields requires an 'output' document")
    part = spec.get("partitionBy")
    part_cols = []
    if part is not None:
        if not (isinstance(part, str) and part.startswith("$")):
            raise ValueError("$setWindowFields partitionBy must be a '$field' path")
        part_cols = [_field(part[1:])]
    order_cols = []
    for k, d in (spec.get("sortBy") or {}).items():
        if d not in (1, -1):
            raise ValueError(f"$setWindowFields sortBy direction for {k!r} must be 1 or -1")
        order_cols.append(_field(k).asc() if d == 1 else _field(k).desc())

    def _bound(v, side: str):
        if v == "unbounded":
            return Window.unboundedPreceding if side == "lo" else Window.unboundedFollowing
        if v == "current":
            return Window.currentRow
        if isinstance(v, int):
            return v
        raise ValueError(f"unsupported documents bound {v!r}")

    base = Window.partitionBy(*part_cols)
    ordered = base.orderBy(*order_cols) if order_cols else base

    _AGGS = {"$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max,
             "$first": F.first, "$last": F.last,
             "$count": lambda c: F.count(F.lit(1))}
    _POSITIONAL = {"$rank": F.rank, "$denseRank": F.dense_rank,
                   "$documentNumber": F.row_number}

    out = df
    for name, odoc in spec["output"].items():
        body = {k: v for k, v in odoc.items() if k != "window"}
        if len(body) != 1:
            raise ValueError(f"output field {name!r} must have exactly one operator")
        (op, arg), = body.items()
        if op in _POSITIONAL:
            if not order_cols:
                raise ValueError(f"{op} requires sortBy")
            col = _POSITIONAL[op]().over(ordered)
        elif op == "$shift":
            if not order_cols:
                raise ValueError("$shift requires sortBy")
            by = int(arg.get("by", 1))
            target = _field(arg["output"][1:])
            fn = F.lead if by > 0 else F.lag
            # lead/lag's own default fires only when the shifted position
            # falls outside the partition (Mongo $shift semantics); an
            # in-window null value stays null — coalesce would conflate them
            col = fn(target, abs(by), arg.get("default")).over(ordered)
        elif op in _AGGS:
            target = _compile_value(arg)  # "$ref", literal, or expression
            wdoc = (odoc.get("window") or {}).get("documents")
            if wdoc is not None:
                frame = ordered.rowsBetween(_bound(wdoc[0], "lo"), _bound(wdoc[1], "hi"))
            else:
                # Mongo default: the entire partition, regardless of sortBy
                frame = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            col = _AGGS[op](target).over(frame)
        else:
            raise ValueError(f"unsupported $setWindowFields operator {op!r}")
        out = out.withColumn(name, col)
    return out


def _stage_densify(df: DataFrame, spec: dict) -> DataFrame:
    """Mongo `$densify` (numeric step): add documents for missing values of
    `field` on the step grid, per partition. Existing documents pass through
    untouched (Mongo does not merge grid points with existing docs);
    generated documents carry only the partition fields + the densify field,
    everything else null.

    Spark shape: per-partition (min, max) via one hash aggregate →
    `sequence()` + `explode` mints the grid JVM-side → left_anti against the
    existing (partition, field) values → unionByName with null-filled
    columns. Two shuffles (agg + anti join), both on the partition key; the
    grid never materializes on the driver."""
    field = spec["field"]
    parts = spec.get("partitionByFields", [])
    rng = spec.get("range") or {}
    step = rng.get("step")
    # integer steps only: the grid is minted by Spark's sequence(), which is
    # defined over integral/temporal types — Mongo's fractional steps would
    # need a scaled-integer grid (multiply through by 10^k), unsupported here
    if not isinstance(step, int) or isinstance(step, bool) or step <= 0:
        raise ValueError("$densify range.step must be a positive integer")
    bounds = rng.get("bounds", "partition")
    part_cols = [_field(p) for p in parts]

    if bounds == "partition":
        b = df.groupBy(*part_cols).agg(
            F.min(_field(field)).alias("_lo"), F.max(_field(field)).alias("_hi")
        )
    elif isinstance(bounds, list) and len(bounds) == 2:
        # explicit [lo, hi): Mongo's upper bound is exclusive
        b = df.select(*part_cols).distinct().select(
            "*", F.lit(bounds[0]).alias("_lo"),
            (F.lit(bounds[1]) - F.lit(step)).alias("_hi"),
        )
    else:
        raise ValueError(f"unsupported $densify bounds {bounds!r}")
    grid = b.select(
        *parts, F.explode(F.sequence("_lo", "_hi", F.lit(step))).alias(field)
    )
    missing = grid.join(
        df.select(*parts, field).distinct(), [*parts, field], "left_anti"
    )
    return df.unionByName(missing, allowMissingColumns=True)


def _stage_fill(df: DataFrame, spec: dict) -> DataFrame:
    """Mongo `$fill`: fill null fields with a constant (`value`) or by
    last-observation-carried-forward (`method: "locf"`) in sortBy order per
    partition. locf = last(col, ignorenulls) over an unbounded-preceding
    ROWS frame — one Window shuffle on the partition key, no Python."""
    from pyspark.sql import Window

    out_doc = spec.get("output")
    if not out_doc:
        raise ValueError("$fill requires an 'output' document")
    part = spec.get("partitionBy")
    part_cols = []
    if part is not None:
        if not (isinstance(part, str) and part.startswith("$")):
            raise ValueError("$fill partitionBy must be a '$field' path")
        part_cols = [_field(part[1:])]
    order_cols = []
    for k, d in (spec.get("sortBy") or {}).items():
        if d not in (1, -1):
            raise ValueError(f"$fill sortBy direction for {k!r} must be 1 or -1")
        order_cols.append(_field(k).asc() if d == 1 else _field(k).desc())

    out = df
    for name, how in out_doc.items():
        if "value" in how:
            out = out.withColumn(name, F.coalesce(_field(name), F.lit(how["value"])))
        elif how.get("method") == "locf":
            if not order_cols:
                raise ValueError("$fill method locf requires sortBy")
            w = (
                Window.partitionBy(*part_cols)
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            out = out.withColumn(name, F.last(_field(name), ignorenulls=True).over(w))
        else:
            raise ValueError(f"unsupported $fill spec for {name!r}: {how!r}")
    return out


def _stage_union_with(df: DataFrame, spec, tables: dict) -> DataFrame:
    """Mongo `$unionWith`: append another collection's documents (optionally
    pre-transformed by a sub-pipeline). Spark: unionByName with missing
    columns allowed — Mongo documents are schemaless, union never fails on
    shape. The foreign collection comes from `tables=`, like `$lookup`."""
    if isinstance(spec, str):
        coll, sub = spec, []
    else:
        coll, sub = spec["coll"], spec.get("pipeline", [])
    if coll not in tables:
        raise ValueError(f"$unionWith collection {coll!r} not supplied via tables=")
    other = tables[coll]
    for fn, s in _compile_stage_list(sub, tables):
        other = fn(other, s)
    return df.unionByName(other, allowMissingColumns=True)


def _stage_sample(df: DataFrame, spec) -> DataFrame:
    """Mongo `$sample`: `{size: N}` pseudo-random documents. Two modes:

    - `{"size": N}` — Mongo semantics: a random sample, NOT reproducible
      across runs (Mongo's own $sample is nondeterministic). Compiles to
      orderBy(rand()).limit(N) = TakeOrderedAndProject: each partition
      keeps its top-N candidates, only N rows per partition reach the
      driver-side merge — no global sort materialization at 100 TB.
    - `{"size": N, "by": [cols], "seed": s?}` — deterministic engine
      extension: order by sha2(seed ⊕ cols) and take N. The same rows come
      back on every run, every partitioning, every cluster size, and any
      engine with sha256 can reproduce the selection (the contract oracle
      runs it in DuckDB). Training-data pipelines need THIS mode: corpus
      subsampling must be stable or dataset versioning breaks.
    """
    if isinstance(spec, int):
        spec = {"size": spec}
    n = int(spec["size"])
    if n < 0:
        raise ValueError("$sample size must be >= 0")
    by = spec.get("by")
    if not by:
        return df.orderBy(F.rand()).limit(n)
    if isinstance(by, str):
        by = [by]
    seed = str(spec.get("seed", ""))
    key = F.sha2(
        F.concat_ws("\x1f", F.lit(seed), *[_field(c).cast("string") for c in by]),
        256,
    )
    # hash asc, then the by-columns as an explicit total-order tie-break
    # (collisions are ~impossible, but determinism must not rest on that)
    return df.orderBy(key.asc(), *[_field(c).asc() for c in by]).limit(n)


def _stage_graph_lookup(df: DataFrame, spec: dict, tables: dict) -> DataFrame:
    """Mongo `$graphLookup`: recursive lookup over a self-referencing
    collection — start from `startWith`, repeatedly match documents whose
    `connectToField` equals the frontier, following their
    `connectFromField`, and collect everything reached into the `as` array
    (optionally stamping `depthField`).

    Spark-first shape (no per-row recursion, no cartesian):
    - BFS runs over DISTINCT start VALUES, not input documents — a million
      docs sharing one start value traverse once, then join the result back.
    - each depth level is ONE equi hash join frontier ⋈ foreign(connectTo);
      the frontier is typically tiny, so Catalyst broadcasts it.
    - visited-set anti-join makes traversal terminate on cyclic graphs and
      deduplicates documents reachable via several paths (Mongo returns each
      document once, at its minimum depth).
    - `localCheckpoint` truncates the per-level plan lineage, the same
      driver-loop discipline as `connected_components`
      (operators/dedupe_docs.py). Depth levels are sequential by nature;
      each level's join is fully parallel.

    `maxDepth` bounds recursion like Mongo (depth 0 = the first lookup);
    without it the engine caps at 20 levels and raises if the frontier is
    still live — an unbounded walk over a 10^10-row edge table must be an
    explicit choice, not a default.

    Cost note: the foreign table is scanned once per depth level; for deep
    graphs pass a cached/persisted DataFrame in `tables=`.
    """
    foreign = tables.get(spec["from"])
    if foreign is None:
        raise ValueError(f"$graphLookup from {spec['from']!r} not supplied via tables=")
    start = spec["startWith"]
    if not (isinstance(start, str) and start.startswith("$")):
        raise ValueError("$graphLookup startWith must be a '$field' reference")
    start_col = _field(start[1:])
    cf, ct = spec["connectFromField"], spec["connectToField"]
    as_field = spec["as"]
    depth_field = spec.get("depthField")
    max_depth = spec.get("maxDepth")
    cap = int(max_depth) if max_depth is not None else 20
    f_cols = list(foreign.columns)
    if cf not in f_cols or ct not in f_cols:
        raise ValueError("$graphLookup connectFrom/ToField must be foreign columns")

    frontier = (
        df.select(start_col.alias("_gl_v0"))
        .where(F.col("_gl_v0").isNotNull())
        .distinct()
        .withColumn("_gl_val", F.col("_gl_v0"))
    )
    reached: DataFrame | None = None
    depth = 0
    while True:
        # qualified aliases: df and foreign may be the SAME DataFrame
        # (self-referencing collection is $graphLookup's home case), which
        # makes unqualified attributes ambiguous on the first level
        m = (
            frontier.alias("_gl_f")
            .join(foreign.alias("_gl_t"),
                  F.col("_gl_f._gl_val") == F.col(f"_gl_t.{ct}"))
            .select(
                F.col("_gl_f._gl_v0").alias("_gl_v0"),
                *[F.col(f"_gl_t.{c}").alias(c) for c in f_cols],
            )
            .withColumn("_gl_depth", F.lit(depth).cast("long"))
        )
        if reached is not None:
            # document identity = the full foreign row (Mongo dedups whole
            # documents); first (= minimum) depth wins
            m = m.join(
                reached.select("_gl_v0", *f_cols), ["_gl_v0", *f_cols], "left_anti"
            )
        m = m.localCheckpoint()
        if m.isEmpty():
            break
        reached = m if reached is None else reached.unionByName(m)
        depth += 1
        if depth > cap:
            if max_depth is None:
                raise ValueError(
                    "$graphLookup exceeded the default 20-level cap; pass "
                    "maxDepth explicitly to walk deeper"
                )
            break
        frontier = m.select("_gl_v0", F.col(cf).alias("_gl_val")).distinct()

    if depth_field and depth_field in f_cols:
        raise ValueError(
            f"$graphLookup depthField {depth_field!r} collides with a foreign column"
        )
    # NB: struct fields below use the COLUMN names verbatim (the depth column
    # is renamed to depth_field first, never aliased inside the struct) — a
    # struct-field alias that differs from its source attribute trips a
    # Catalyst nested-pruning bug over unions of checkpointed frames
    # (observed on 4.1: "key not found" in the optimizer)
    entry_cols = [F.col(c) for c in f_cols]
    if depth_field:
        entry_cols.append(F.col(depth_field))
    if reached is None:
        # nothing reachable anywhere: every doc gets an empty (typed) array
        probe = foreign
        if depth_field:
            probe = probe.withColumn(depth_field, F.lit(0).cast("long"))
        struct_t = probe.select(F.struct(*entry_cols).alias("_e")).schema["_e"].dataType
        from pyspark.sql import types as T

        arr_t = T.ArrayType(struct_t)
        return df.withColumn(as_field, F.array().cast(arr_t))
    if depth_field:
        reached = reached.withColumnRenamed("_gl_depth", depth_field)
    agg = reached.groupBy("_gl_v0").agg(
        F.collect_list(F.struct(*entry_cols)).alias(as_field)
    )
    arr_type = agg.schema[as_field].dataType
    out = df.join(agg, start_col == agg["_gl_v0"], "left").drop("_gl_v0")
    return out.withColumn(
        as_field, F.coalesce(F.col(as_field), F.array().cast(arr_type))
    )


def _stage_out(df: DataFrame, spec, tables: dict) -> DataFrame:
    """Mongo `$out`: REPLACE the target collection with the pipeline output.
    The lake-native incremental upsert is `$merge`; `$out` is the
    full-replace materialization — the target is a directory path supplied
    via `tables=` (a string), written as parquet overwrite. Like `$merge`
    it is an ACTION and must be the terminal stage; it returns the re-read
    materialized collection."""
    name = spec if isinstance(spec, str) else spec.get("coll") or spec.get("into")
    target = (tables or {}).get(name)
    if not isinstance(target, str):
        raise ValueError(
            f"$out target {name!r} must be supplied via tables= as an output path"
        )
    df.write.mode("overwrite").parquet(target)
    return df.sparkSession.read.parquet(target)


def _stage_merge(df: DataFrame, spec, tables: dict) -> DataFrame:
    """Mongo `$merge`: upsert the pipeline's output into a collection. Here
    the collection IS the engine's lake table — `tables=` supplies a
    LakeTable (anything with .merge/.snapshot), and the stage delegates to
    its exactly-once LWW bucketed merge. The supported shape is the one the
    engine implements: `on` = the table key (repo, path); `whenMatched` ∈
    replace (our default) / merge (field overlay via the engine's
    partial-update path — unsupplied columns inherit from the existing doc)
    / keepExisting (existing doc wins — anti-join drops matched batch keys)
    / fail; `whenNotMatched` ∈ insert (default) / discard (semi-join keeps
    only matched keys) / fail. Mongo's own default pair is merge/insert.
    The key-set joins read ONLY the key columns of the target (Catalyst
    prunes the scan); fail modes pay one count job each.

    Unlike every other stage, `$merge` is an ACTION: applying the pipeline
    runs the merge job(s) immediately (Mongo too treats $merge as the
    terminal writing stage). The stage returns the refreshed target
    snapshot, so a pipeline ending in $merge yields the post-merge
    collection — queryable like any other stage output."""
    if isinstance(spec, str):
        spec = {"into": spec}
    into = spec.get("into")
    target = (tables or {}).get(into)
    if target is None or not hasattr(target, "merge"):
        raise ValueError(
            f"$merge target {into!r} must be supplied via tables= as a lake table"
        )
    on = spec.get("on", ["repo", "path"])
    if isinstance(on, str):
        on = [on]
    if sorted(on) != ["path", "repo"]:
        raise ValueError("$merge on must be the table key ['repo', 'path']")
    when_matched = spec.get("whenMatched", "replace")
    when_not_matched = spec.get("whenNotMatched", "insert")
    if when_matched not in ("replace", "merge", "keepExisting", "fail"):
        raise ValueError(
            "$merge whenMatched must be replace/merge/keepExisting/fail, "
            f"got {when_matched!r}"
        )
    if when_not_matched not in ("insert", "discard", "fail"):
        raise ValueError(
            "$merge whenNotMatched must be insert/discard/fail, "
            f"got {when_not_matched!r}"
        )
    batch = df
    if when_matched != "replace" or when_not_matched != "insert":
        existing = target.snapshot().select(*on)  # key-only, column-pruned
        if when_matched == "fail":
            n = batch.join(existing, on, "left_semi").count()
            if n:
                raise ValueError(f"$merge whenMatched='fail': {n} matched rows")
        if when_not_matched == "fail":
            n = batch.join(existing, on, "left_anti").count()
            if n:
                raise ValueError(f"$merge whenNotMatched='fail': {n} unmatched rows")
        if when_matched == "keepExisting":
            batch = batch.join(existing, on, "left_anti")
        if when_not_matched == "discard":
            batch = batch.join(existing, on, "left_semi")
        if when_matched == "merge":
            # field overlay = the engine's partial-update path: mask every
            # payload column the pipeline output CARRIES; the merge inherits
            # the rest from the existing doc (operators/patch.py)
            internal = {
                "partition_id", "offset", "op", "commit_seq", "lineage",
                "patch_mask",
            }
            # mask names are LOGICAL table columns: a batch carrying
            # pre-fingerprint content_raw must mask 'content' — the name
            # LakeTable._fold_patches keys content writes off (ADVICE r3;
            # mirrors merge's mask_aliases={'content_sha256': 'content'}) —
            # or the content update would be silently dropped
            mask_alias = {"content_raw": "content"}
            payload = [
                c for c in batch.columns if c not in internal and c not in on
            ]
            mask = F.array_distinct(
                F.array(*[F.lit(mask_alias.get(c, c)) for c in payload])
            )
            batch = batch.withColumn(
                "patch_mask", F.when(F.col("op") != "delete", mask)
            ).withColumn(
                "op",
                F.when(F.col("op") != "delete", F.lit("update")).otherwise(
                    F.col("op")
                ),
            )
    target.merge(batch)
    return target.refresh().snapshot()


def _stage_sort(df: DataFrame, doc: dict) -> DataFrame:
    cols = []
    for k, d in doc.items():
        if d not in (1, -1):
            raise ValueError(f"$sort direction for {k!r} must be 1 or -1")
        cols.append(_field(k).asc() if d == 1 else _field(k).desc())
    return df.orderBy(*cols)


_STAGES = {
    "$match": _stage_match,
    "$addFields": _stage_add_fields,
    "$set": _stage_add_fields,
    "$unset": _stage_unset,
    "$project": _stage_project,
    "$group": _stage_group,
    "$sort": _stage_sort,
    "$skip": lambda df, n: df.offset(int(n)),
    "$limit": lambda df, n: df.limit(int(n)),
    "$count": lambda df, name: df.groupBy().agg(
        F.count(F.lit(1)).alias(str(name))
    ),
    "$unwind": _stage_unwind,
    "$replaceRoot": _stage_replace_root,
    "$replaceWith": _stage_replace_root,
    "$sortByCount": _stage_sort_by_count,
    "$bucket": _stage_bucket,
    "$bucketAuto": _stage_bucket_auto,
    "$setWindowFields": _stage_set_window_fields,
    "$densify": _stage_densify,
    "$fill": _stage_fill,
    "$sample": _stage_sample,
    # $lookup, $facet, $unionWith, $graphLookup, $merge, and $out are bound
    # to `tables` in _compile_stage_list
}


def _compile_stage_list(
    stages: list, tables: dict | None
) -> list[tuple[Callable, object]]:
    """Parsed stage documents → [(stage_fn, spec)] — shared by the top-level
    pipeline and `$facet` sub-pipelines."""
    compiled: list[tuple[Callable, object]] = []
    for i, stage in enumerate(stages):
        if not isinstance(stage, dict) or len(stage) != 1:
            raise ValueError(f"stage {i} must be a single-key document, got {stage!r}")
        (name, spec), = stage.items()
        if name in ("$lookup", "$facet", "$unionWith", "$merge",
                    "$graphLookup", "$out"):
            if name in ("$merge", "$out") and i != len(stages) - 1:
                raise ValueError(f"{name} must be the last pipeline stage")
            bound = dict(tables or {})
            fn = {"$lookup": _stage_lookup, "$facet": _stage_facet,
                  "$unionWith": _stage_union_with, "$merge": _stage_merge,
                  "$graphLookup": _stage_graph_lookup, "$out": _stage_out}[name]
            compiled.append((lambda df, s, _f=fn, _t=bound: _f(df, s, _t), spec))
            continue
        if name not in _STAGES:
            raise ValueError(
                f"unsupported pipeline stage {name!r} (supported: "
                f"{sorted(_STAGES) + ['$facet', '$graphLookup', '$lookup', '$merge', '$out', '$unionWith']})"
            )
        compiled.append((_STAGES[name], spec))
    return compiled


def compile_pipeline(
    pipeline_json: str,
    *,
    now: Callable[[], float] | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """JSON pipeline string → reusable DataFrame transform.

    Variable substitution happens HERE, on the raw JSON, before parsing —
    the reference's replace-then-parse order (service wiring passes the
    config string through variables.Replace before ParsePipeline). The
    returned closure is pure plan construction: applying it runs no job.
    `tables` supplies foreign collections for `$lookup` by name.
    """
    stages = json.loads(replace_variables(pipeline_json, now=now))
    if not isinstance(stages, list):
        raise ValueError("pipeline must be a JSON array of stages")
    compiled = _compile_stage_list(stages, tables)

    def _apply(df: DataFrame) -> DataFrame:
        for fn, spec in compiled:
            df = fn(df, spec)
        return df

    return _apply


def apply_pipeline(
    df: DataFrame,
    pipeline_json: str,
    *,
    now: Callable[[], float] | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Parse + apply in one call (the common path)."""
    return compile_pipeline(pipeline_json, now=now, tables=tables)(df)
