package graft
package certs

import org.scalatest.funsuite.AnyFunSuite

/** The registry is the single declaration of every certification; these
  * checks run on the `Seq` itself, before any `toMap` could hide a
  * duplicate.
  */
class CertRegistrySpec extends AnyFunSuite {

  private val names = Cert.all.map(_.name)

  test("cert names are distinct") {
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate cert names: $dups")
  }

  test("every cert name is a safe single path segment (its Verify dump dir)") {
    val bad = names.filterNot(_.matches("[a-z0-9][a-z0-9_]*"))
    assert(bad.isEmpty, s"unsafe cert names: $bad")
  }

  test("the SparkEntry views expose exactly the registry's names") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(names.forall(n => SparkEntry.oracleSql(n) == Cert.all.find(_.name == n).get.oracle))
  }
}
