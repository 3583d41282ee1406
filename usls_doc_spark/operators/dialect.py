"""Two-dialect SQL atoms: Spark SQL vs DuckDB.

Queries in operators/ are written once as templates over these atoms and
rendered for both engines — the Spark rendering runs distributed through
Catalyst, the DuckDB rendering is the driver's correctness oracle. Anything
float-sensitive uses either exact arithmetic (DECIMAL sums) or explicitly
left-associated double expressions so both engines produce bit-identical
IEEE results (SURVEY.md §7 float-drift discipline).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Dialect:
    name: str

    # --- arrays ---------------------------------------------------------
    def split(self, s: str, sep: str = "' '") -> str:
        return (
            f"split({s}, {sep})" if self.name == "spark" else f"string_split({s}, {sep})"
        )

    def array_len(self, a: str) -> str:
        return f"size({a})" if self.name == "spark" else f"len({a})"

    def element(self, a: str, i: str) -> str:
        # 1-based in both
        return f"element_at({a}, {i})" if self.name == "spark" else f"({a})[{i}]"

    def array_min(self, a: str) -> str:
        return f"array_min({a})" if self.name == "spark" else f"list_min({a})"

    def explode(self, a: str, alias: str) -> str:
        # FROM-clause lateral explode producing column `alias`
        if self.name == "spark":
            return f"LATERAL VIEW explode({a}) AS {alias}"
        return f", unnest({a}) AS t_{alias}({alias})"

    def shingles(self, words: str, n: int) -> str:
        """Sliding n-word shingles of a words array (space-joined)."""
        if self.name == "spark":
            return (
                f"transform(sequence(1, greatest({self.array_len(words)} - {n - 1}, 1)), "
                f"i -> array_join(slice({words}, i, {n}), ' '))"
            )
        return (
            f"[array_to_string(({words})[i:i+{n - 1}], ' ') "
            f"for i in range(1, greatest(len({words}) - {n - 1}, 1) + 1)]"
        )

    # --- hashing ---------------------------------------------------------
    def md5(self, s: str) -> str:
        return f"md5({s})"  # identical hex output in both engines

    def hex32_to_bigint(self, hex8: str) -> str:
        """First-8-hex-chars string -> unsigned 32-bit value as BIGINT."""
        if self.name == "spark":
            return f"CAST(conv({hex8}, 16, 10) AS BIGINT)"
        return f"CAST('0x' || ({hex8}) AS BIGINT)"

    def hash32(self, s: str) -> str:
        return self.hex32_to_bigint(f"substr({self.md5(s)}, 1, 8)")

    def shiftright(self, x: str, n: int) -> str:
        return f"shiftright({x}, {n})" if self.name == "spark" else f"(({x}) >> {n})"

    def bit_xor2(self, a: str, b: str) -> str:
        """Bitwise XOR of two integers. Spark's ``^`` is XOR, but DuckDB's
        ``^`` is POWER — the function spelling is mandatory there."""
        return f"(({a}) ^ ({b}))" if self.name == "spark" else f"xor({a}, {b})"

    def shiftleft(self, x: str, n: str) -> str:
        """Left shift (operand pre-cast to BIGINT by the caller where the
        result can exceed 32 bits). Spark spells it as a function."""
        return f"shiftleft({x}, {n})" if self.name == "spark" else f"(({x}) << ({n}))"

    def intdiv(self, a: str, b: str) -> str:
        """Exact integer division (both operands integral, result BIGINT)."""
        return f"(({a}) DIV ({b}))" if self.name == "spark" else f"(({a}) // ({b}))"

    def wide(self, x: str) -> str:
        """Widen an integral operand beyond int64 for overflow-free products
        (r6 ADVICE item 3): Spark DECIMAL(38,0), DuckDB HUGEINT — both give
        exact integer multiply + intdiv up to 1e38, and both engines'
        results verified identical on 1e15-token inputs. Callers must still
        CAST the terminal expression back to BIGINT (oracle-type ban)."""
        target = "DECIMAL(38,0)" if self.name == "spark" else "HUGEINT"
        return f"CAST({x} AS {target})"

    # --- array lambdas ----------------------------------------------------
    def array_transform(self, a: str, var: str, body: str) -> str:
        if self.name == "spark":
            return f"transform({a}, {var} -> ({body}))"
        return f"list_transform({a}, {var} -> ({body}))"

    def array_filter_count(self, a: str, var: str, predicate: str) -> str:
        if self.name == "spark":
            return f"size(filter({a}, {var} -> ({predicate})))"
        return f"len(list_filter({a}, {var} -> ({predicate})))"

    def array_sum_bigint(self, a: str) -> str:
        """Sum an integer array (exact, associative — order irrelevant)."""
        if self.name == "spark":
            return f"aggregate({a}, 0L, (acc, v) -> acc + v)"
        return f"list_sum({a})"

    def array_distinct(self, a: str) -> str:
        return f"array_distinct({a})" if self.name == "spark" else f"list_distinct({a})"

    def array_sort(self, a: str) -> str:
        # ascending natural order in both engines (strings: binary collation)
        return f"array_sort({a})" if self.name == "spark" else f"list_sort({a})"

    def array_filter(self, a: str, var: str, predicate: str) -> str:
        """Filter returning the array (array_filter_count returns its size)."""
        if self.name == "spark":
            return f"filter({a}, {var} -> ({predicate}))"
        return f"list_filter({a}, {var} -> ({predicate}))"

    def array_slice(self, a: str, start: int, n: int) -> str:
        """First n elements from 1-based start (Spark slice is (start, len);
        DuckDB list_slice is inclusive-end)."""
        if self.name == "spark":
            return f"slice({a}, {start}, {n})"
        return f"list_slice({a}, {start}, {start + n - 1})"

    def seq(self, lo: str, hi: str) -> str:
        """Inclusive integer range as an array."""
        if self.name == "spark":
            return f"sequence({lo}, {hi})"
        return f"generate_series({lo}, {hi})"

    def ordered_string_agg(
        self, expr: str, order: str, sep: str = "' '", where: str | None = None
    ) -> str:
        """Deterministic ordered string aggregation: join `expr` values in
        ascending `order`, optionally over a FILTER predicate, with ties on
        `order` broken by the value itself IN BOTH DIALECTS: the Spark side
        sorts (order, value) structs post-collect (collect_list alone has
        no ordering guarantee), and the DuckDB side orders by the composite
        (order, value) — a bare `ORDER BY order` would leave tied elements
        in nondeterministic order (round-4 ADVICE item 2)."""
        filt = f" FILTER (WHERE {where})" if where else ""
        if self.name == "spark":
            return (
                f"array_join(transform(array_sort("
                f"collect_list(struct({order} AS o, {expr} AS v)){filt}), "
                f"s -> s.v), {sep})"
            )
        return f"string_agg({expr}, {sep} ORDER BY {order}, {expr}){filt}"

    def sorted_list(self, expr: str) -> str:
        """Aggregate `expr` values into an ascending-sorted array —
        deterministic regardless of arrival order in either engine (the
        collect itself is unordered; the explicit sort fixes it)."""
        if self.name == "spark":
            return f"array_sort(collect_list({expr}))"
        return f"list_sort(list({expr}))"

    def array_join(self, a: str, sep: str = "' '") -> str:
        return (
            f"array_join({a}, {sep})"
            if self.name == "spark"
            else f"array_to_string({a}, {sep})"
        )

    # --- misc -------------------------------------------------------------
    def regexp_count(self, s: str, pattern: str) -> str:
        if self.name == "spark":
            return f"regexp_count({s}, {pattern})"
        return f"len(regexp_extract_all({s}, {pattern}))"

    def regexp_replace_all(self, s: str, pattern: str, replacement: str) -> str:
        """Replace EVERY match. Spark's regexp_replace is global by default;
        DuckDB replaces only the first match unless given the 'g' option.
        Shared patterns must stay backslash-free (Spark string literals
        process C-escapes, DuckDB's don't) — spell classes as [0-9], [.]."""
        if self.name == "spark":
            return f"regexp_replace({s}, {pattern}, {replacement})"
        return f"regexp_replace({s}, {pattern}, {replacement}, 'g')"

    def epoch_seconds(self, ts: str) -> str:
        """Timestamp -> whole epoch seconds as BIGINT (session tz = UTC;
        the events timestamps carry no sub-second drift risk here because
        only floor-divided bucket values are consumed)."""
        if self.name == "spark":
            return f"CAST(unix_timestamp({ts}) AS BIGINT)"
        return f"CAST(floor(epoch({ts})) AS BIGINT)"

    def time_bucket(self, ts: str, seconds: int) -> str:
        if self.name == "spark":
            return f"timestamp_seconds(floor(unix_timestamp({ts}) / {seconds}) * {seconds})"
        return f"to_timestamp(floor(epoch({ts}) / {seconds}) * {seconds})::TIMESTAMP"

    def str_cast(self, x: str) -> str:
        return f"CAST({x} AS STRING)" if self.name == "spark" else f"CAST({x} AS VARCHAR)"


SPARK = Dialect("spark")
DUCK = Dialect("duckdb")


def balanced_sum(terms: list[str]) -> str:
    """Pairwise (balanced-tree) summation: a FIXED association order that
    both engines evaluate identically (bit-equal doubles), with expression
    depth log2(n) — deep left-chains explode Catalyst codegen compile time."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def dot64(a: str, b: str, dims: int = 64) -> str:
    """Fixed-association double dot product — bit-identical IEEE evaluation
    in both engines (no SUM-over-groups reassociation)."""

    def term(d: Dialect, i: int) -> str:
        return (
            f"(CAST({d.element(a, str(i))} AS DOUBLE) * "
            f"CAST({d.element(b, str(i))} AS DOUBLE))"
        )

    def render(d: Dialect) -> str:
        return balanced_sum([term(d, i) for i in range(1, dims + 1)])

    return render

