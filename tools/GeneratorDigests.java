// Prints the md5 of every synthetic media generator's bytes for seeds
// 0-99, one line per (generator, seed), so a refactor of
// graft.ops.Multimodal can prove its generators emit the same bytes.
// Run it from a compiled tree (sbt compile) with Spark's jars directory
// on the class path, then diff the output of two trees:
//
//   java -cp "target/scala-2.13/classes:$SPARK_JARS/*" tools/GeneratorDigests.java > gen.md5
import graft.ops.Multimodal;
import java.security.MessageDigest;
import java.util.HexFormat;

public class GeneratorDigests {
  static void print(String name, long seed, byte[] bytes) throws Exception {
    byte[] d = MessageDigest.getInstance("MD5").digest(bytes);
    System.out.println(name + " " + seed + " " + HexFormat.of().formatHex(d));
  }

  public static void main(String[] args) throws Exception {
    for (long s = 0; s < 100; s++) {
      print("syntheticPng", s, Multimodal.syntheticPng(s));
      print("syntheticWav", s, Multimodal.syntheticWav(s));
      print("syntheticMjpegAvi", s, Multimodal.syntheticMjpegAvi(s));
      for (boolean p : new boolean[] {false, true}) {
        print("syntheticGridPng/" + p, s, Multimodal.syntheticGridPng(s, p));
        print("syntheticGridWav/" + p, s, Multimodal.syntheticGridWav(s, p));
        print("syntheticGridMjpegAvi/" + p, s, Multimodal.syntheticGridMjpegAvi(s, p, 0.85f));
      }
    }
  }
}
