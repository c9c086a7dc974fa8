package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Masking
import graft.tools.ConfigPerturb
import graft.tools.ConfigPerturb._

/** Guards for the metamorphic CONFIG-variant harness
  * ([[graft.tools.ConfigPerturb]], judge brief r17 → r18 #2).
  *
  * The oracle refereeing runs out-of-band (ConfigPerturb dump +
  * scripts/perturb_compare.py against DuckDB — recorded in
  * FIXTURES.md). This spec pins the property the harness's oracle
  * INDEPENDENCE rests on: [[ConfigPerturb.surviving]] re-implements
  * the mask-ladder contract from scratch, so it must agree with the
  * production implementation ([[Masking.maskProjection]] plus the
  * compileMulti id-is-upsert-key fallback) on every variant's
  * (annotations, ladder, emit) point — two codebases, one contract.
  */
class ConfigPerturbSpec extends AnyFunSuite {

  /** The events payload schema as ConfigPerturb.run annotates it. */
  private def schemaFor(v: CfgVariant): StructType = {
    val base = Seq(
      StructField("id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))
    StructType(base.map { f =>
      val md = v.annMaps.foldLeft(new MetadataBuilder()) {
        case (b, (name, cls)) =>
          cls.get(f.name).map(l => b.putString(name, l)).getOrElse(b)
      }
      f.copy(metadata = md.build())
    })
  }

  test("variant catalog is well-formed (>=30 points, unique ids, oracles build)") {
    val vs = ConfigPerturb.variants
    assert(vs.size >= 30, s"only ${vs.size} config variants")
    assert(vs.map(_.id).distinct.size == vs.size, "duplicate variant ids")
    // every oracle must BUILD (the require()s inside — emit level in
    // ladder, glob LIKE-safety — all hold) and end deterministic
    vs.foreach { v =>
      val sql = ConfigPerturb.oracleFor(v)
      assert(sql.contains("ORDER BY id, sub_id"), v.id)
    }
    // the coupled dimensions are all present
    assert(vs.exists(_.subs.exists(_.mask.exists(_.annotation != Masking.DefaultAnnotation))))
    assert(vs.exists(_.subs.exists(_.mode == "sync")))
    assert(vs.exists(_.subs.exists(s => s.mode == "none" || s.mode == "consume")))
    assert(vs.exists(_.subs.size >= 3))
    assert(vs.exists(_.store.exists(_.duckStale.nonEmpty)))
  }

  test("surviving() agrees with Masking.maskProjection on every masked variant") {
    var checked = 0
    for (v <- ConfigPerturb.variants; sub <- v.subs; m <- sub.mask) {
      val schema = schemaFor(v)
      val pruned = Masking.maskProjection(schema, m.emit, m.levels, m.annotation)
        .map(_._1)
      // the production fallback: the id is the upsert key and always
      // survives, re-inserted in payload order (Pipeline.compileMulti)
      val kept =
        if (pruned.contains("id")) pruned
        else PayloadFields.filter(c => c == "id" || pruned.contains(c))
      assert(kept == surviving(v, sub),
        s"${v.id}/${sub.id}: engine keeps $kept, oracle generator says " +
          s"${surviving(v, sub)}")
      checked += 1
    }
    assert(checked >= 15, s"only $checked masked (variant, sub) points")
  }

  test("glob→LIKE translation refuses globs that would need escaping") {
    assert(globToLike("c*") == "c%")
    assert(globToLike("p?rchase") == "p_rchase")
    assertThrows[IllegalArgumentException](globToLike("has%pct"))
    assertThrows[IllegalArgumentException](globToLike("has_underscore"))
  }

  test("canonical fragments sort keys by codepoint like Python dumps") {
    val sql = canonSql(Seq("id", "user_id", "event_type", "value"))
    val posE = sql.indexOf("event_type")
    val posI = sql.indexOf("\"id\"")
    val posU = sql.indexOf("user_id")
    val posV = sql.indexOf("value")
    assert(posE < posI && posI < posU && posU < posV)
  }
}
