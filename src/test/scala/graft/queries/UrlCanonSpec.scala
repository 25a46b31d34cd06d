package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** p14's canonicalization policy on hand-computed URLs: every rule
  * (case, www-strip, default-port strip, explicit-port keep, slash
  * collapse, trailing-slash strip, tracker drop, param sort, fragment
  * drop) verified against by-hand canonical strings; the planted
  * variant joins its base's group exactly when ports agree; a natural
  * mod-350 collision groups two base docs. */
class UrlCanonSpec extends SparkSpec {

  private def check(p: org.scalacheck.Prop, minSuccessful: Int = 5): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  test("canonicalize is idempotent and policy-clean on random messy URLs") {
    import org.scalacheck.{Gen, Prop}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val schemeGen = Gen.oneOf("http", "HTTP", "HtTpS", "https", "Https")
    val hostGen = for {
      www <- Gen.oneOf("", "www.", "WWW.", "wWw.")
      name <- Gen.oneOf("Alpha", "beta", "GAMMA9", "d-e-f")
      tld <- Gen.oneOf(".Example.COM", ".example.com", ".NET")
    } yield www + name + tld
    val portGen = Gen.oneOf("", ":80", ":443", ":8080", ":12345")
    val pathGen = for {
      segs <- Gen.listOfN(3, Gen.oneOf("", "a", "B", "c9"))
      slashes <- Gen.oneOf("/", "//", "///")
      trail <- Gen.oneOf("", "/", "//")
    } yield segs.filter(_.nonEmpty).map(slashes + _).mkString + trail
    val paramGen = Gen.someOf(Seq("a=1", "b=2", "z=9", "utm_source=x",
      "utm_medium=y", "fbclid=q", "gclid=g")).flatMap(ps =>
      Gen.oneOf(true, false).map(rev =>
        if (ps.isEmpty) "" else "?" + (if (rev) ps.reverse else ps).mkString("&")))
    val fragGen = Gen.oneOf("", "#frag", "#x")
    val urlGen = for {
      s <- schemeGen; h <- hostGen; po <- portGen; pa <- pathGen
      q <- paramGen; f <- fragGen
    } yield s"$s://$h$po$pa$q$f"

    check(Prop.forAllNoShrink(Gen.listOfN(120, urlGen)) { urls =>
      val df = urls.toDF("url").select(col("url"),
          graft.operators.UrlOps.canonicalize(col("url")).as("c1"))
        .select(col("url"), col("c1"),
          graft.operators.UrlOps.canonicalize(col("c1")).as("c2"))
      val rows = df.collect()
      rows.forall { r =>
        val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
        val fixedPoint = c1 == c2
        val noTracker = !c1.contains("utm_") && !c1.contains("fbclid") &&
          !c1.contains("gclid")
        val noFragment = !c1.contains("#")
        val authorityLower = c1.takeWhile(_ != '/') == c1.takeWhile(_ != '/').toLowerCase
        val noWww = !c1.matches("^[a-z]+://www\\..*")
        val noDefaultPort = !c1.startsWith("http://") ||
          !c1.matches("^http://[^/?#]*:80([/?#].*)?$")
        assert(fixedPoint, s"not idempotent: $u -> $c1 -> $c2")
        assert(noTracker && noFragment && authorityLower && noWww &&
          noDefaultPort, s"policy violated: $u -> $c1")
        true
      }
    })
  }

  test("p14 canonical URLs, groups and keep flags match hand-computed values") {
    import spark.implicits._
    val dir = tmpDir("urlcanon")
    // ids chosen against the moduli: 0 trips everything (incl. the
    // %63 port-split case), 9 is the clean base+plant pair, 14 keeps
    // :8080, 3/353 are the natural mod-350 collision
    plant(dir, "documents",
      Seq(0L, 3L, 9L, 14L, 353L).map(id => (id, s"text $id"))
        .toDF("doc_id", "text"))

    val out = QueryRegistry.byName("p14_url_canonicalize").run(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(0L, 3L, 9L, 14L, 353L, 400000L, 400009L))

    // doc 0: every mess at once; :8080 wins over the default port and
    // survives canonicalization
    assert(out(0L)._1 ==
      "HTTP://www.Site0.Example.COM:8080/a//b/?utm_source=x&b=2&a=1#frag")
    assert(out(0L)._2 == "http://site0.example.com:8080/a/b?a=1&b=2")
    assert(out(0L)._3 == 1L && out(0L)._4)
    // its plant carries the DEFAULT port instead -> different resource,
    // own group (the %63 split, deliberate)
    assert(out(400000L)._2 == "http://site0.example.com/a/b?a=1&b=2")
    assert(out(400000L)._3 == 1L && out(400000L)._4)

    // doc 9 + plant: raw strings differ in every dimension, canon equal
    assert(out(9L)._1 == "https://www.Site9.Example.COM:443/p9?a=1&fbclid=zz&b=2")
    assert(out(400009L)._1 == "HTTPS://wWw.SITE9.example.com:443//p9/?b=2&utm_medium=y&a=1#x")
    assert(out(9L)._2 == "https://site9.example.com/p9?a=1&b=2")
    assert(out(400009L)._2 == out(9L)._2)
    assert(out(9L)._3 == 2L && out(9L)._4)
    assert(out(400009L)._3 == 2L && !out(400009L)._4)

    // doc 14: non-default port kept, trackers dropped, params sorted
    assert(out(14L)._2 == "http://site14.example.com:8080/p4?a=1&b=2")
    assert(out(14L)._3 == 1L)

    // 3 vs 353: different raw ports (:443 vs none) canonicalize to the
    // same URL -> natural collision group, min doc_id keeps
    assert(out(3L)._2 == "https://site3.example.com/p3?a=1&b=2")
    assert(out(353L)._2 == out(3L)._2)
    assert(out(3L)._3 == 2L && out(3L)._4)
    assert(out(353L)._3 == 2L && !out(353L)._4)
  }
}
