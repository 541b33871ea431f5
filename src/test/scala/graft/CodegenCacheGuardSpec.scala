package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-21 (round-20 verdict #8): Harness pins the codegen class cache
  * at 4096 entries, sized for the registry's ~5 WholeStageCodegen/
  * projection units per query (measured round 20: ~1500 distinct
  * generated classes across 301 queries). Registry growth past the
  * cache silently reintroduces the warm-pass recompile thrash the
  * round-20 fix removed — the r19 "+20% level shift" took a full round
  * to attribute — so this guard turns the drift into a red test the
  * round it happens, with the re-size instruction in the message. */
class CodegenCacheGuardSpec extends AnyFunSuite {
  test("codegen class cache covers the query registry with 2x headroom") {
    // the shipped default, not this JVM's environment: the guard is about
    // what Harness sessions get when GRAFT_CODEGEN_CACHE is unset
    val cache = Harness.DefaultCodegenCache
    val unitsPerQuery = 5 // measured shape, round 20
    val need = SparkEntry.all.size * unitsPerQuery
    assert(need * 2 <= cache,
      s"query registry (${SparkEntry.all.size} queries x ~$unitsPerQuery codegen units " +
        s"= $need classes) is within 2x of the codegen cache ($cache): raise " +
        "Harness.DefaultCodegenCache (and the " +
        "GRAFT_CODEGEN_CACHE note in SCALE.md) before warm passes thrash again")
  }
}
