/**
 * Fixed pure-JVM contention canary: the same parallel integer reduction,
 * timed REPS times in a fresh JVM. Prints one time in seconds per rep.
 * Run with the source launcher: java perfbench/Canary.java
 */
public class Canary {
    static final int REPS = 5;
    static final long N = 200_000_000L;

    public static void main(String[] args) {
        long sink = 0;
        for (int r = 0; r < REPS; r++) {
            long t0 = System.nanoTime();
            sink += java.util.stream.LongStream.range(0, N).parallel()
                .map(i -> (i * 2654435761L) % 997).sum();
            System.out.println((System.nanoTime() - t0) / 1e9);
        }
        if (sink == 42) {
            System.out.println("unreachable");
        }
    }
}
