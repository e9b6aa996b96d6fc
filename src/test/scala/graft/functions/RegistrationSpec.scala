package graft.functions

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The Column wrappers register graft's functions once per session. */
class RegistrationSpec extends AnyFunSuite {

  test("wrapper calls register once per session; a newSession() registers its own") {
    val spark = SparkSession.builder()
      .master("local[1]")
      .appName("graft-registration-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("graft-replaced-probe", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) replaced.add(m)
        ()
      }
    }
    probe.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    try {
      spark.sparkContext.setLogLevel("WARN")
      root.addAppender(probe)
      val reg = spark.sessionState.functionRegistry
      def infos() = GraftFunctions.Functions.map { case (name, _, _) =>
        reg.lookupFunction(FunctionIdentifier(name))
          .getOrElse(fail(s"$name is not registered"))
      }
      GraftFunctions.charEntropy(lit("ab"))
      val first = infos()
      GraftFunctions.charEntropy(lit("ab"))
      GraftFunctions.lower(lit("AB"))
      // a re-registration stores a new ExpressionInfo for every function
      assert(infos().zip(first).forall { case (a, b) => a eq b })
      assert(replaced.isEmpty, replaced.toString)

      val other = spark.newSession()
      SparkSession.setActiveSession(other)
      try {
        assert(!other.sessionState.functionRegistry
          .functionExists(FunctionIdentifier("char_entropy")))
        val n = other.range(1).select(GraftFunctions.charEntropy(lit("aab"))
          .getField("n_distinct")).head().getLong(0)
        assert(n == 2L)
      } finally SparkSession.setActiveSession(spark)
      assert(replaced.isEmpty, replaced.toString)
    } finally {
      root.removeAppender(probe)
      probe.stop()
      spark.stop()
    }
  }
}
