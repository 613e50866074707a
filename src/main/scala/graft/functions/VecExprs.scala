package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Codegen-friendly dense-vector arithmetic (r22, guide §4 / §1.2 "per-task
  * work") shared by the sim/ann queries and the persisted vector index.
  *
  * The higher-order-function forms these replace — `aggregate(zip_with(a,
  * b, _*_), 0.0, _+_)` for dots, `aggregate(e, 0.0, acc + x*x)` for norms,
  * one `aggregate(zip_with(...))` PER HYPERPLANE for LSH signatures — are
  * CodegenFallback: each evaluation runs interpreted and `zip_with`
  * allocates a fresh 64-slot array per call (per plane per row for
  * signatures). `dot` sits in the broadcast-join inner loop of every
  * `ann_*` query, so it runs per candidate PAIR — the highest-volume
  * expression in the family; at 100 TB the signature runs once per corpus
  * row of the scan stage.
  *
  * Replacement shape: ONE tight JVM loop inside a UDF (the
  * dedup_docs_embedding `sigOf` precedent). Unrolled element_at chains
  * were tried FIRST and measured SLOWER than the HOFs on the focused A/B
  * (ann_ivf 1.7×, embed_kmeans 2.6× worse): a ~190-node Catalyst tree per
  * dot pays plan/compile overhead the 2k-row fixture never amortizes —
  * guide §1.1's "the ideal plan is usually slower at first" case, settled
  * empirically. The UDF pays one array conversion per call and runs the
  * dim (or nplanes×dim) multiply-adds fused.
  *
  * Bit-exactness contract (oracle-critical): every form folds
  * left-to-right from 0.0 exactly like the `aggregate` it replaces, so
  * every double — and every downstream sign bit / ranking tie — is
  * bit-identical. The UDF's primitive `>= 0` matches Spark's NaN-aware
  * ordering because plane dots of the finite fixture embeddings are finite.
  * Equivalence against the HOF forms over the real fixture is pinned by
  * VecExprsSpec.
  */
object VecExprs {

  /** Σ a[i]·b[i], left fold from 0.0 in one tight JVM loop — bit-identical
    * to `aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)`.
    * A UDF, not an unrolled element_at chain: the unrolled form was
    * MEASURED SLOWER than the HOF on the focused A/B (a ~190-node tree per
    * use pays compile/interpreted-eval overhead that dwarfs the per-pair
    * win at fixture volume), while the loop form pays one array conversion
    * per call and runs the 64 multiply-adds fused. NULL in, NULL out, like
    * the HOF: a NULL array, a NULL element (it would null its product and
    * so the sum) and a length mismatch (zip_with's null padding) all yield
    * NULL. */
  def dotLoop: UserDefinedFunction =
    udf { (a: Seq[java.lang.Double], b: Seq[java.lang.Double]) =>
      if (a == null || b == null || a.length != b.length) null
      else {
        var acc = 0.0
        var i = 0
        while (i < a.length && a(i) != null && b(i) != null) {
          acc += a(i) * b(i)
          i += 1
        }
        if (i < a.length) null else java.lang.Double.valueOf(acc)
      }
    }

  /** Sign-LSH signature over the shared deterministic hyperplanes
    * w_j[i] = ((i·31 + j·17) % 7) − 3 (identical constants to the DuckDB
    * oracle mirrors): bit j set iff Σ_i emb[i]·w_j[i] ≥ 0, per-plane
    * accumulation left-to-right from 0.0 — bit-identical to the per-plane
    * `aggregate(zip_with(emb, sequence(0, dim-1), ...))` column form on
    * every embedding of exactly `dim` non-NULL elements.
    *
    * Anything else is NULL in, NULL out: a NULL embedding, a NULL
    * element, or a length other than `dim`. This departs from the HOF
    * form, whose NULL plane dots fell through `when(dot >= 0)` to 0 and
    * so filed such rows under bucket 0; a NULL signature files them under
    * no bucket, so a bucket equi-join never matches them. */
  def lshSig(dim: Int, nplanes: Int): UserDefinedFunction =
    udf { (emb: Seq[java.lang.Double]) =>
      if (emb == null || emb.length != dim || emb.contains(null)) null
      else {
        var s = 0L
        var j = 0
        while (j < nplanes) {
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += emb(i) * ((i * 31 + j * 17) % 7 - 3); i += 1 }
          if (acc >= 0) s |= 1L << j
          j += 1
        }
        java.lang.Long.valueOf(s)
      }
    }
}
