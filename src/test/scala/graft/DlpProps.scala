package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.etl.Dlp

/** Property-based checks of the DLP column functions, evaluated
  * through the engine (one local relation per batch of cases). */
object DlpProps extends Properties("Dlp") {
  private lazy val spark = SparkTestSession.spark

  private def eval1(in: Seq[String], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] = {
    import spark.implicits._
    in.toDF("s").select(f(col("s")).as("r")).collect().map(r => Option(r.getString(0)).orNull).toSeq
  }

  private val word: Gen[String] = Gen.alphaNumStr.map(_.take(40))

  property("maskChars keeps exactly `keep` prefix chars and output length") =
    forAll(Gen.listOfN(8, word), Gen.choose(0, 12)) { (ws, keep) =>
      val masked = eval1(ws, c => Dlp.maskChars(c, keep))
      ws.zip(masked).forall { case (s, m) =>
        m.length == s.length &&
        m.take(math.min(keep, s.length)) == s.take(math.min(keep, s.length)) &&
        m.drop(keep).forall(_ == '#')
      }
    }

  property("deterministicToken: equal inputs ⇒ equal tokens, distinct ⇒ distinct") =
    forAll(Gen.listOfN(10, word)) { ws =>
      val toks = eval1(ws, c => Dlp.deterministicToken(c, "k"))
      val byInput = ws.zip(toks).groupBy(_._1).view.mapValues(_.map(_._2).distinct)
      byInput.values.forall(_.size == 1) &&
        byInput.keys.size == toks.zip(ws).map(_._1).distinct.size
    }

  property("redact removes every email/phone match") =
    forAll(Gen.listOfN(5, word), Gen.listOfN(5, Gen.choose(0, 9999))) { (ws, ns) =>
      val inputs = ws.zip(ns).map { case (w, n) =>
        s"$w user$n@example.com and 555-867-${"%04d".format(n)}"
      }
      val red = eval1(inputs, c => Dlp.redact(c))
      red.forall(r => !r.contains("@") && !r.matches(".*[0-9]{3}-[0-9]{3}-[0-9]{4}.*"))
    }

  property("fpeDigits preserves format: digits→digits, rest unchanged, deterministic") =
    forAll(Gen.listOfN(6, Gen.choose(0, 9999))) { ns =>
      val inputs = ns.map(n => s"555-867-${"%04d".format(n)}")
      val out = eval1(inputs, _ => Dlp.fpeDigits("s", "fpe-key"))
      val again = eval1(inputs, _ => Dlp.fpeDigits("s", "fpe-key"))
      out == again && inputs.zip(out).forall { case (in, o) =>
        o.length == in.length &&
        in.zip(o).forall { case (a, b) =>
          if (a.isDigit) b.isDigit else a == b
        }
      }
    }

  property("bucketize is monotone and width-consistent") =
    forAll(Gen.listOfN(8, Gen.choose(-10000.0, 10000.0))) { xs =>
      import spark.implicits._
      val out = xs.toDF("x").select(Dlp.bucketize(col("x"), 500).as("b"))
        .collect().map(_.getString(0))
      xs.zip(out).forall { case (x, b) =>
        val Array(lo, hi) = b.split("_").map(_.toLong)
        hi - lo == 500 && x >= lo && x < hi
      }
    }
}
