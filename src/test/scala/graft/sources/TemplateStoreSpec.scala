package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class TemplateStoreSpec extends AnyFunSuite {
  test("templateStore: a bare path is local disk, a URI keeps its scheme") {
    val local = NetflowDecoder.templateStore("/var/lib/graft/tmpl")
    assert(local.toUri.getScheme == "file")
    assert(local.toUri.getPath == "/var/lib/graft/tmpl")
    val hdfs = NetflowDecoder.templateStore("hdfs://nn/x")
    assert(hdfs.toUri.getScheme == "hdfs")
    assert(hdfs.toString == "hdfs://nn/x")
  }
}
