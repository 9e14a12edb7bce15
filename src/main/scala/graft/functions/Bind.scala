package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, element_at, transform}

/** Expression-level let-binding: evaluate a subexpression ONCE however
  * many times the consuming body references it.
  *
  * Plain `Column` composition is tree substitution — every reference
  * to a `val` holding a Column COPIES the whole subtree into the final
  * expression. For the row-local operator chains here (markup
  * extraction, quality scores, curation verdicts) that nesting is
  * multiplicative: `Markup.extractText`'s kept-blocks array
  * re-instantiated the whole strip-chain per struct field. The
  * analyzer and optimizer walk every copy (a measured multi-second
  * fixed cost per plan — BENCH_NOTES R14.3), and the evaluator computes
  * every copy per row.
  *
  * A binding only deduplicates; the tree still holds lambdas, which
  * keep the projection out of whole-stage codegen. Where a chain is
  * large and hot, one native expression is the next step: URL
  * canonicalization was Bind's first user (its pct-normalized query
  * string had appeared 5 times per call) and is now
  * [[graft.expressions.CanonicalizeUrlExpression]], 2,221 nodes
  * collapsed into one.
  *
  * [[Bind.once]] wraps the expression in a single-element array and
  * hands the body a LAMBDA VARIABLE — a leaf — so the tree holds one
  * copy no matter how often the body references it. This is the same
  * trick the DuckDB oracle replays as `list_transform([x], v -> ...)`
  * (see the q239/q240 oracle comment). The per-row cost is one
  * 1-element array allocation — noise next to the regexp work it
  * deduplicates. Lazy branches stay lazy: a binding placed INSIDE a
  * CaseWhen branch still only evaluates on rows that take the branch.
  */
object Bind {

  def once(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)
}
