package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

package object functions {
  /** ANSI-safe ratio: null instead of DIVIDE_BY_ZERO. CaseWhen branches
    * evaluate lazily, so the division never executes on a zero
    * denominator — one degenerate group (constant series, single tick)
    * must not fail a 1000-executor job.
    */
  private[graft] def safeDiv(num: Column, den: Column): Column =
    when(den =!= 0, num / den)

  /** Size bound of the one-row k×k solves: the series count of
    * eod_pca_factor, eod_tangency and eod_risk_parity, and the
    * transient-state count of Events.markovAttribution. Their whole
    * state is one row of k² cells and every sweep is O(k²) work in one
    * task, so the bound keeps that row small; each solve raises past it
    * rather than building an unbounded row.
    */
  private[graft] val SMAX = 64

  /** `f(e)` with `e` evaluated once. Catalyst has no let: CollapseProject
    * inlines a column that a consumer names once, and inside a lambda
    * that one mention runs per element — binding `e` to a lambda
    * variable keeps the grid and each sweep's state evaluated once.
    */
  private[graft] def let(e: Column)(f: Column => Column): Column =
    transform(array(e), f)(0)

  /** Σ a_i·b_i over two equal-length arrays, folded from `zero`. */
  private[graft] def dot(a: Column, b: Column, zero: Column): Column =
    aggregate(zip_with(a, b, _ * _), zero, _ + _)

  private def entry(a: Column, b: Column, h: Int, v: Column): Column =
    struct(a.as("ta"), b.as("tb"), lit(h).as("h"), v.as("v"))

  /** The value `v` of cell (`a`, `b`), as a [[denseGrid]] entry. */
  private[graft] def gridEntry(a: Column, b: Column, v: Column): Column =
    entry(a, b, 0, v)

  /** The dense grid of sparse `entries` ([[gridEntry]] structs, at most
    * one per cell) over the ascending-sorted key arrays `rows` and
    * `cols`: one array of values per row key, in `cols` order, with
    * `zero` in every cell that has no entry.
    *
    * O(k²) assembly: the entries, padded with a `zero` filler per cell
    * (h = 1), sort row-major once; a real entry sorts just before its
    * own filler, so one filter pass that drops each filler following a
    * real entry leaves exactly one value per cell and row i is the
    * slice [i·n, (i+1)·n) for n column keys. No cell scans the entries.
    */
  private[graft] def denseGrid(rows: Column, cols: Column, entries: Column,
                               zero: Column): Column = {
    val fill = flatten(transform(rows, a =>
      transform(cols, b => entry(a, b, 1, zero))))
    let(array_sort(concat(entries, fill))) { es =>
      let(filter(es, (x, i) => x("h") === 0 ||
          when(i === 0, lit(true)).otherwise(es(i - 1)("h") === 1))) { g =>
        val n = size(cols)
        transform(rows, (_, i) => transform(slice(g, i * n + 1, n), _("v")))
      }
    }
  }
}
