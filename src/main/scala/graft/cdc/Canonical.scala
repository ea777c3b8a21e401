package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Value canonicalisation + stable row hashing — the verifier's comparison
  * machinery (`harness/verifier/index.js:78-136`):
  * `coerceComparable` (trim strings, numeric-strings → numbers),
  * `stableStringify` (deterministic JSON: sorted keys), equality by
  * canonical form. Plus the storage layer's `inferColumnType`
  * (`src/domain/storage.ts:35-43`) and search-haystack build
  * (`web/App.tsx:1428-1444`).
  */
object Canonical {

  /** Canonical comparable form of a scalar column: trimmed; numeric strings
    * normalize through an actual numeric round-trip — `'1.50'→'1.5'`,
    * `'007'→'7'`, `'1e3'→'1000'` — matching the reference's `Number()`
    * coercion (`coerceComparable`, `index.js:84-87`).
    *
    * Rendering mirrors ECMAScript `Number::toString` (the reference compares
    * `String(Number(x))` forms): plain decimal notation exactly for
    * magnitudes in [1e-6, 1e21), exponential outside it, formatted JS-style
    * (`1e-7`, `2e+40` — lowercase `e`, explicit `+`, no trailing `.0`
    * mantissa). Spark's bare double→string cast switches to Java scientific
    * notation outside [1e-3, 1e7), so the plain range goes through DECIMAL
    * plain-string rendering (trailing zeros trimmed; scale tiered by
    * magnitude so every shortest-repr digit fits), and the exponential
    * range reformats Java's `E`-notation. Residual caveat: the
    * mantissa digits come from Java's `Double.toString`, whose
    * shortest-representation algorithm (pre-JDK-19) can very rarely emit
    * more digits than V8's — both round-trip to the same double. */
  def coerceComparable(c: Column): Column = {
    val t = trim(c.cast("string"))
    val numeric = t.rlike("^-?[0-9]*\\.?[0-9]+([eE][+-]?[0-9]+)?$")
    val d = t.cast("double")
    val absd = abs(d)
    // DECIMAL always renders plain notation with a decimal point, so
    // trimming trailing zeros then a dangling point is lossless; -0 → 0.
    // The scale tiers by magnitude: just above 1e-6 a double's ~17
    // significant digits sit up to 23 places after the point (needs scale
    // 23), while magnitudes past 1e15 need integer digits instead (scale 18,
    // then 0 — by 1e18 the ulp is ≫ 1 and doubles are integral).
    def trimPlain(s: Column): Column = regexp_replace(
      regexp_replace(regexp_replace(s, "0+$", ""), "\\.$", ""), "^-0$", "0")
    val tinyPlain = d === 0 || (absd >= lit(1e-6) && absd < lit(1e15))
    val plain23 = trimPlain(
      when(tinyPlain, d).otherwise(lit(null)).cast("decimal(38,23)").cast("string"))
    val midPlain = absd >= lit(1e15) && absd < lit(1e18)
    val plain18 = trimPlain(
      when(midPlain, d).otherwise(lit(null)).cast("decimal(38,18)").cast("string"))
    val bigPlain = absd >= lit(1e18) && absd < lit(1e21)
    val dec0 = when(bigPlain, d).otherwise(lit(null)).cast("decimal(38,0)")
    // JS exponential form from Java's E-notation (these ranges always render
    // E-notation in Java: |d| ≥ 1e21 > 1e7, 0 < |d| < 1e-6 < 1e-3)
    val s = d.cast("string")
    val mant = regexp_replace(
      regexp_extract(s, "^(-?[0-9]+(\\.[0-9]+)?)[eE]", 1), "\\.0$", "")
    val ex = regexp_extract(s, "[eE]([+-]?[0-9]+)$", 1)
    val sci = concat(mant, lit("e"),
      when(ex.startsWith("-"), ex).otherwise(concat(lit("+"), ex)))
    // Overflowing numeric strings ('1e999') parse to ±Infinity: every plain
    // branch is null and the sci regexes don't match Java's 'Infinity', so
    // guard on finiteness — Java prints 'Infinity'/'-Infinity', exactly
    // JS `String(Number('1e999'))`.
    val inf = when(absd === lit(Double.PositiveInfinity), d.cast("string"))
    val canon = coalesce(inf, plain23, plain18, dec0.cast("string"), sci)
    when(numeric && d.isNotNull, canon).otherwise(t)
  }

  /** Deterministic JSON of selected columns — field order fixed by sorting
    * names (`stableStringify`'s sorted keys), null fields omitted. Built as
    * a name → canonical-value map rather than a struct so that
    * [[coerceComparable]] appears once, inside `transform`, instead of once
    * per column: inlined per column, its generated code passes the JVM's
    * 64 KB method limit at about ten columns, which fails the query under
    * strict codegen (`codegen.fallback=false`). Same JSON text as the
    * struct form. */
  def stableJson(df: DataFrame, cols: Seq[String]): Column = {
    val names = cols.sorted
    val canon = transform(array(names.map(n => col(n).cast("string")): _*), coerceComparable(_))
    to_json(map_filter(map_from_arrays(array(names.map(lit): _*), canon),
      (_, v) => v.isNotNull))
  }

  /** Stable row hash over the canonical JSON (drives state-diff equality and
    * the golden-state oracle check). */
  def rowHash(df: DataFrame, cols: Seq[String]): Column =
    sha2(stableJson(df, cols), 256)

  /** `inferColumnType` (`storage.ts:35-43`): booleans → bool; numbers whose
    * key matches /_ts$|timestamp$/i → timestamp, else number; everything
    * else string. Operates on a (key, value-string) pair. */
  def inferColumnType(key: Column, value: Column): Column =
    when(lower(value).isin("true", "false"), "bool")
      .when(value.rlike("^-?[0-9]+(\\.[0-9]+)?$") &&
        lower(key).rlike("(_ts|timestamp)$"), "timestamp")
      .when(value.rlike("^-?[0-9]+(\\.[0-9]+)?$"), "number")
      .otherwise("string")

  /** `sanitizeRow` (`index.js:43-57`): null-valued fields dropped from the
    * canonical JSON. Spark's `to_json` already omits nulls — provided here
    * as the explicit projection for map payloads. */
  def sanitizeJson(mapCol: Column): Column =
    to_json(map_filter(mapCol, (_, v) => v.isNotNull))

  /** Search haystack (`web/App.tsx:1428-1444`): lowercase concat of the
    * searchable fields, built once as a column (Catalyst caches the
    * projection; whole-stage codegen fuses the filter). */
  def haystack(cols: Seq[Column]): Column =
    lower(concat_ws(" ", cols: _*))

  /** Token AND-match over the haystack (`scenarioFilters.ts:177-217`). */
  def matchesAllTerms(hay: Column, terms: Seq[String]): Column =
    terms.map(t => hay.contains(t.toLowerCase)).foldLeft(lit(true))(_ && _)

  /** Write-amplification display helpers (`src/ui/writeAmplification.ts`). */
  def formatWriteAmp(wa: Column): Column = format_string("%.1fx", wa)
  def describeWriteAmp(wa: Column): Column =
    when(wa < 1.05, lit("no meaningful amplification"))
      .otherwise(concat(lit("~"), format_string("%.1f", wa - 1), lit(" extra writes/change")))
}
