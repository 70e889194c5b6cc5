package graft.functions

import java.lang.reflect.Modifier

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{lit, typedLit}

import graft.SparkTestBase
import graft.functions.Functions.dsl._

/** The two evaluation paths of [[DspExpr]] — generated code and the
  * interpreted `eval` Spark falls back to when codegen is off or fails
  * to compile — must call the same static [[Bridge]] method.
  */
class DspExprSpec extends SparkTestBase {

  test("every Bridge.signatures entry resolves to a public static Bridge method") {
    val bridge = Class.forName("graft.functions.Bridge")
    Bridge.signatures.foreach { case (fn, (args, ret)) =>
      val params = args.map(CodeGenerator.javaClass)
      val m = bridge.getMethod(fn, params: _*)
      assert(Modifier.isStatic(m.getModifiers) && Modifier.isPublic(m.getModifiers), fn)
      assert(m.getParameterTypes.toSeq == params, fn)
      assert(CodeGenerator.javaClass(ret).isAssignableFrom(m.getReturnType),
        s"$fn returns ${m.getReturnType}, declared ${CodeGenerator.javaClass(ret)}")
    }
  }

  private val x = Array.tabulate(15)(i => math.sin(0.4 * i) + 0.05 * i)

  /** One call per kernel, over a Range leaf (not a local relation, so
    * the optimizer cannot evaluate the projection on the driver).
    */
  private val calls: Seq[(String, Column)] = Seq(
    "dct2" -> dct2C(typedLit(x)),
    "idct2" -> idct2C(typedLit(x), "ortho"),
    "dst2" -> dst2C(typedLit(x)),
    "idst2" -> idst2C(typedLit(x), "ortho"),
    "fftNd" -> fftNdC(typedLit(x), typedLit(x.reverse), typedLit(Array(3, 5)),
      inverse = false),
    "medfilt2d" -> medfilt2dC(typedLit(x), lit(3), lit(5)),
    "deconvolve" -> deconvolveC(typedLit(x), typedLit(Array(1.0, 0.5))),
    "rfft" -> rfftC(typedLit(x)))

  private def run(c: Column): Row = spark.range(1).select(c.as("out")).collect()(0)

  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("interpreted eval returns exactly what generated code returns") {
    val compiled = calls.map { case (fn, c) => fn -> run(c) }
    val evaluated = interpreted(calls.map { case (fn, c) => fn -> run(c) })
    compiled.zip(evaluated).foreach { case ((fn, want), (_, got)) =>
      assert(got == want, fn)
    }
  }

  test("a kernel's require message surfaces unchanged from interpreted eval") {
    val w = 4
    // 5 spectrum values cannot form one window of w/2+1 = 3 bins
    val bad = istftC(typedLit(Array.fill(5)(1.0)), typedLit(Array.fill(5)(0.0)),
      lit(1), w, 2, typedLit(Array.fill(w)(1.0)))
    val e = intercept[Exception](interpreted(run(bad)))
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    val kernelErr = chain(e).collectFirst {
      case t if !t.isInstanceOf[org.apache.spark.SparkException] => t
    }
    assert(kernelErr.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("istft: 5 spectrum values do not form 1 windows of 3 bins")),
      s"expected the kernel's own exception, got: ${chain(e)}")
  }
}
