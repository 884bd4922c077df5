package graft.text

import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** `HalfEven.round` (behind `DictionarySignal.round4` and
  * `ConfidenceSignal.round2`) is bit-identical to the BigDecimal HALF_EVEN
  * form: on random doubles, on the ulp neighbours of every grid point and
  * tie, and on signed zeros, NaN and infinities.
  */
object HalfEvenProps extends Properties("HalfEven") {

  /** The result's bits, or the exception class both forms must throw. */
  private def outcome(f: => Double): Either[String, Long] =
    try Right(java.lang.Double.doubleToRawLongBits(f))
    catch { case e: Exception => Left(e.getClass.getName) }

  private def agrees(x: Double, digits: Int): Boolean =
    outcome(HalfEven.round(x, digits)) == outcome(HalfEven.exact(x, digits))

  private def neighbours(x: Double): Seq[Double] =
    Iterator.iterate(x)(math.nextUp).slice(1, 4).toSeq ++
      Iterator.iterate(x)(math.nextDown).slice(1, 4).toSeq :+ x

  private val scaled: Gen[Double] = Gen.oneOf(
    Arbitrary.arbitrary[Double],
    Gen.choose(-2.0, 2.0),
    Gen.choose(-200.0, 200.0),
    Gen.choose(-2e6, 2e6))

  property("random doubles and their ulp neighbours") = forAll(scaled) { x =>
    neighbours(x).forall(y => agrees(y, 4) && agrees(y, 2))
  }

  property("round4: +-1-3 ulps around every j/1e4 and (j+0.5)/1e4, j in 0..10000") = Prop {
    (0 to 10000).forall { j =>
      Seq(j / 1e4, (j + 0.5) / 1e4).flatMap(neighbours).forall(x => agrees(x, 4) && agrees(-x, 4))
    }
  }

  property("round2: +-1-3 ulps around every j/1e2 and (j+0.5)/1e2, j in 0..10000") = Prop {
    (0 to 10000).forall { j =>
      Seq(j / 1e2, (j + 0.5) / 1e2).flatMap(neighbours).forall(x => agrees(x, 2) && agrees(-x, 2))
    }
  }

  property("signed zeros, NaN and infinities") = Prop {
    Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue)
      .forall(x => agrees(x, 4) && agrees(x, 2)) &&
      java.lang.Double.doubleToRawLongBits(HalfEven.round(-0.0, 4)) == 0L &&
      java.lang.Double.doubleToRawLongBits(HalfEven.round(-1e-9, 4)) == 0L
  }
}
