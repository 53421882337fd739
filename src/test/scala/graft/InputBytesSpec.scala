package graft

/** [[Tables.inputBytes]] feeds the volume-sized operators (d15's
  * window width, i4's shuffle count): a wrong size silently clamps
  * the derived width to its floor and reinstates the linear per-task
  * memory growth the sizing exists to prevent (the r14 advice
  * finding this helper closed). Pin the three shapes: single file,
  * directory-style dataset (sum of leaf data files, markers and
  * hidden files skipped), missing path.
  */
class InputBytesSpec extends SparkSpec {

  test("file, directory (markers skipped), and missing-path sizing") {
    val tmp = Scratch.dir("ib").toFile
    try {
      def put(rel: String, n: Int): Unit = {
        val f = new java.io.File(tmp, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, Array.fill[Byte](n)(7))
      }
      put("single.parquet", 1234)
      assert(Tables.inputBytes(s"$tmp/single.parquet") == 1234L)

      put("ds.parquet/part-00000.parquet", 1000)
      put("ds.parquet/part-00001.parquet", 500)
      put("ds.parquet/sub/part-00002.parquet", 250) // nested partition dir
      put("ds.parquet/_SUCCESS", 0)
      put("ds.parquet/_metadata", 99)
      put("ds.parquet/.part-00000.crc", 88)
      assert(Tables.inputBytes(s"$tmp/ds.parquet") == 1750L,
        "directory size must sum leaf data files only")

      assert(Tables.inputBytes(s"$tmp/absent.parquet") == 0L)
      // the caller contract: a File.length on the directory would have
      // reported the dir-entry size, not the data
      assert(new java.io.File(s"$tmp/ds.parquet").length != 1750L)
    } finally Scratch.remove(tmp)
  }
}
