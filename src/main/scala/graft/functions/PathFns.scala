package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar path/key functions (SURVEY §2.8 F1–F15), re-expressed as pure
  * `Column` compositions so they stay inside whole-stage codegen. Semantics
  * match the reference plpgsql functions cited per-function; all comparisons
  * are byte-ordered (COLLATE "C" ≡ Spark UTF8 binary ordering).
  */
object PathFns {

  /** F1 `storage.foldername(name)` — all path segments but the last
    * (migrations/tenant/0002-storage-schema.sql:85-95). */
  def foldername(name: Column): Column = {
    val parts = split(name, "/")
    slice(parts, lit(1), size(parts) - 1)
  }

  /** F2 `storage.filename(name)` — last segment (0002:97-107). */
  def filename(name: Column): Column = element_at(split(name, "/"), -1)

  /** F3 `storage.extension(name)` — text after the last `.` of the filename
    * (0002:109-122). NULL-free: a filename without `.` returns itself, same as
    * the reference's reverse/split_part trick. */
  def extension(name: Column): Column =
    element_at(split(filename(name), "\\."), -1)

  /** F4 `storage.get_level(name)` — path depth (0026-objects-prefixes.sql:6-10). */
  def getLevel(name: Column): Column = size(split(name, "/"))

  /** F5 `storage.get_prefix(name)` — parent path, '' at root (0026:26-34).
    * Identical regex to the reference. */
  def getPrefix(name: Column): Column =
    when(instr(name, "/") > 0, regexp_replace(name, "[\\/]{1}[^\\/]+\\/?$", ""))
      .otherwise(lit(""))

  /** F6 `storage.get_prefixes(name)` — all ancestor paths ["a","a/b",...]
    * (0026:37-56). */
  def getPrefixes(name: Column): Column = {
    val parts = split(name, "/")
    transform(sequence(lit(1), size(parts) - 1),
      i => array_join(slice(parts, lit(1), i), "/"))
  }

  /** F7 `storage.get_common_prefix(key, prefix, delimiter)` — the first
    * delimiter-terminated segment of `key` after `prefix` (including the
    * trailing delimiter), or NULL when the key is a leaf at this level
    * (0050-search-v2-optimised.sql:31-44). The single most load-bearing scalar
    * in the listing engine: delimiter collapse, folder derivation and
    * search_v2 all reduce to `groupBy(commonPrefix)`.
    */
  def commonPrefix(key: Column, prefix: String, delimiter: String = "/"): Column = {
    val rest = substring(key, prefix.length + 1, Int.MaxValue)
    val pos = instr(rest, delimiter)
    // slice from the KEY, not concat(prefix, …): a case-insensitive prefix
    // match ('r/' vs 'R/…') must still display the folder in the key's bytes
    when(pos > 0, key.substr(lit(1), lit(prefix.length) + pos))
      .otherwise(lit(null))
  }

  /** F8 `split_part(name,'/',n)` — n-th path segment (0027:28,44). */
  def splitPart(name: Column, n: Int): Column = element_at(split(name, "/"), n)

  /** F11 `date_trunc('milliseconds', ts)` — cursor-stable timestamp
    * (0039-add-search-v2-sort-support.sql:46). */
  def truncMs(ts: Column): Column = date_trunc("millisecond", ts)

  /** F15 successor string `left(p,-1) || chr(ascii(right(p,1))+1)` — exclusive
    * upper bound of a prefix range (0050:210-216). Only needed for index-seek
    * parity tests; Spark uses startsWith. */
  def successor(p: Column): Column =
    concat(p.substr(lit(1), length(p) - 1),
      chr(ascii(substring(p, -1, 1)) + 1))

  /** F13 `escapeLike` (pg.ts:41-47): escape `\ % _` so user input stays
    * literal inside a LIKE pattern. Needed only at SQL-dialect boundaries —
    * Spark's startsWith/contains are literal already; kept for parity. */
  def escapeLike(s: String): String =
    s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

  /** listBuckets search `name ILIKE '%' || escapeLike(term) || '%'`
    * (pg.ts:753-756): case-insensitive LITERAL contains. */
  def ilikeContains(c: Column, term: String): Column =
    lower(c).contains(term.toLowerCase)

  /** P3 prefix predicate — literal (escaped-LIKE) semantics of pg.ts:41-47:
    * user input is matched literally, which in Spark is plain startsWith. */
  def hasPrefix(name: Column, prefix: String): Column = name.startsWith(prefix)

  /** P3 legacy ILIKE variant (0002:139): case-insensitive literal prefix. */
  def hasPrefixCI(name: Column, prefix: String): Column =
    lower(name).startsWith(prefix.toLowerCase)

  /** P5 composite keyset predicate: ROW(date_trunc(ms, ts), name) > ROW(a, t)
    * (pg.ts:639-647, 0039:43-52) expanded to a boolean expression Catalyst can
    * fold. */
  def keysetAfter(ts: Column, name: Column, after: Column, token: Column): Column = {
    val dt = truncMs(ts)
    (dt > after) || (dt === after && name > token)
  }

  /** DESC twin of [[keysetAfter]]: ROW(date_trunc(ms, ts), name) < ROW(a, t)
    * — the reference flips the row-value operator with the sort order
    * (`pageOperator`, pg.ts:626 / `cursor_op`, 0039:43-52). */
  def keysetBefore(ts: Column, name: Column, before: Column, token: Column): Column = {
    val dt = truncMs(ts)
    (dt < before) || (dt === before && name < token)
  }
}
