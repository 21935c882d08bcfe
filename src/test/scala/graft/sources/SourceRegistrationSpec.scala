package graft.sources

import java.util.ServiceLoader

import org.apache.spark.sql.sources.DataSourceRegister
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The services file is read at the first `spark.read.format` lookup;
  * a line naming a missing class makes that lookup throw
  * ServiceConfigurationError. Load it here so such a line fails a spec
  * instead. */
class SourceRegistrationSpec extends AnyFunSuite {
  test("the registered graft.sources formats are exactly blocks, receipts and logs") {
    val names = ServiceLoader.load(classOf[DataSourceRegister]).asScala
      .filter(_.getClass.getName.startsWith("graft.sources."))
      .map(_.shortName()).toList
    assert(names.sorted === List("blocks", "logs", "receipts"))
  }
}
