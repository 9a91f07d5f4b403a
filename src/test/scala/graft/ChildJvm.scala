package graft

/** The command line for a test's child JVM: this JVM's `java` and
  * class path, plus the module openings Spark needs on JDK 17 when it
  * is started outside spark-submit. */
object ChildJvm {
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** `java <addOpens> <jvmArgs> -cp <class path> <main> <args>`. */
  def command(jvmArgs: Seq[String], main: String, args: String*): Seq[String] =
    Seq(System.getProperty("java.home") + "/bin/java") ++ addOpens ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args
}
